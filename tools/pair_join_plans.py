"""Capture the executed plans of the near_dup signatures and pair joins.

    python tools/pair_join_plans.py <repo_root> <docs_parquet> <out_dir> <tag>

Runs ``dedup.minhash_signatures``, ``textops.simhash64``,
``dedup.minhash_candidate_pairs`` and ``dedup.simhash_near_pairs`` from
the package under ``repo_root`` (so a second checkout gives the "before"
side) over ``docs_parquet`` at local[2], collects each, and writes
``<out_dir>/<operator>_<tag>.txt``: the row count, then the final AQE
plan with expression ids, lambda-variable suffixes, plan ids, node
numbers, metric names and file paths normalized, so two trees' files compare with
``cmp``.  AQE picks the broadcast build side of the equal-sized cached
sides at run time, so BuildLeft/BuildRight can differ between runs of
the same tree; compare captures that agree on it.
"""
import re
import sys
from pathlib import Path


def _normalize(plan: str) -> str:
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"\blambda ([A-Za-z]\w*?)_\d+\b", r"lambda \1_N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"\(\d+\)", "(N)", plan)
    plan = re.sub(r"CollectMetrics [0-9a-f-]{36}", "CollectMetrics ID", plan)
    return re.sub(r"file:\S+", "file:PATH", plan)


def main(root: str, docs_path: str, out_dir: str, tag: str) -> None:
    sys.path.insert(0, root)
    from warc2text_spark.operators import dedup, textops
    from warc2text_spark.session import get_spark

    spark = get_spark("pair-join-plans", master="local[2]",
                      shuffle_partitions=4)
    docs = spark.read.parquet(docs_path)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for op in (dedup.minhash_signatures, textops.simhash64,
               dedup.minhash_candidate_pairs, dedup.simhash_near_pairs):
        df = op(docs)
        n = len(df.collect())
        plan = df._jdf.queryExecution().executedPlan().toString()
        (out / f"{op.__name__}_{tag}.txt").write_text(
            f"rows: {n}\n{_normalize(plan)}\n")
        dedup.release_intermediates(df)
        print(op.__name__, n)
    spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:5])
