"""Capture the F1-F9 route plans and the Kernel 1 plan of run_pipeline.

    python tools/kernel_contract_plans.py <repo_root> <spans_parquet> <out_dir> <tag>

Runs ``filters.split_stream`` with default options from the package under
``repo_root`` (so a second checkout gives the "before" side) over two
parquet inputs at local[2]: the hand-written ``fixture_df`` rows (written
to ``<out_dir>/_fixture`` first, removed afterwards) and
``spans_parquet`` (e.g. the ``crawl_small`` seed-1 input under
``.perfbench_cache/``).  For each input it writes
``<out_dir>/split_stream_<input>_<tag>.txt``: the row count of each route
(main, robots, pdf), the number of ``ArrayAggregate`` nodes in every
executed Filter condition of the main route, then the main route's
executed plan; the fixture's file then gives the route counts under
three non-default options.  It also writes
``run_pipeline_main_<tag>.txt``, the executed plan of
``run_pipeline(...).main`` over the fixture under
``PipelineOptions(classifier="heuristic")``.  Plans are normalized as
``pair_join_plans`` does, so two trees' files compare with ``cmp``.
"""
import shutil
import sys
from pathlib import Path

from pair_join_plans import _normalize


def _nodes(tree):
    """Every node of a Catalyst tree (plan or expression), depth first."""
    stack = [tree]
    while stack:
        node = stack.pop()
        yield node
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))


def filter_aggregates(df) -> list[int]:
    """``ArrayAggregate`` nodes per executed Filter condition of ``df``."""
    return [sum(e.getClass().getSimpleName() == "ArrayAggregate"
                for e in _nodes(node.condition()))
            for node in _nodes(df._jdf.queryExecution().executedPlan())
            if node.getClass().getSimpleName() == "FilterExec"]


def main(root: str, spans_path: str, out_dir: str, tag: str) -> None:
    sys.path.insert(0, root)
    from tests.fixture_rows import fixture_df
    from warc2text_spark.operators.filters import split_stream
    from warc2text_spark.plans.pipeline import PipelineOptions, run_pipeline
    from warc2text_spark.session import get_spark

    spark = get_spark("kernel-contract-plans", master="local[2]",
                      shuffle_partitions=4)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    fixture_path = out / "_fixture"
    fixture_df(spark)[0].write.mode("overwrite").parquet(str(fixture_path))
    inputs = {"fixture": str(fixture_path), "crawl_small": spans_path}
    for name, path in inputs.items():
        main_df, robots, pdf = split_stream(spark.read.parquet(path))
        counts = [main_df.count(), robots.count(), pdf.count()]
        aggs = filter_aggregates(main_df)
        plan = main_df._jdf.queryExecution().executedPlan().toString()
        (out / f"split_stream_{name}_{tag}.txt").write_text(
            f"rows main/robots/pdf: {counts}\n"
            f"ArrayAggregate per main Filter: {aggs}\n{_normalize(plan)}\n")
        print(name, counts, aggs)
    # the routes under non-default options, through run_pipeline (whose
    # signature both trees share)
    variants = {"robots_process": dict(robots_process=True),
                "pdf_text": dict(pdf_text=True),
                "max_record_size=40": dict(max_record_size=40)}
    with open(out / f"split_stream_fixture_{tag}.txt", "a") as f:
        for name, kw in variants.items():
            res = run_pipeline(spark.read.parquet(str(fixture_path)),
                               PipelineOptions(**kw))
            counts = [res.prefiltered.count(), res.robots.count(),
                      res.pdf.count()]
            f.write(f"rows main/robots/pdf under {name}: {counts}\n")
            print(name, counts)
    res = run_pipeline(spark.read.parquet(str(fixture_path)),
                       PipelineOptions(classifier="heuristic"))
    n = res.main.count()
    plan = res.main._jdf.queryExecution().executedPlan().toString()
    (out / f"run_pipeline_main_{tag}.txt").write_text(
        f"rows: {n}\n{_normalize(plan)}\n")
    shutil.rmtree(fixture_path)
    spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:5])
