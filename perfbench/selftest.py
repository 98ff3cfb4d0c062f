"""Self-test of the benchmark itself, on tiny inputs.

    python3 perfbench/selftest.py

1. Every workload runs through ``run.py`` at its tiny
   size in both modes; each run must exit 0 with ``correct: true`` and
   print exactly the metric names of ``BENCHMARK.json`` with their units.
2. Mutation: corrupting one written output row (one sampled document's
   text, or one planted near-duplicate pair) must drive ``ok_share`` below 1.
3. The DuckDB spans generator equals ``plans/spansgen.build_spans`` row for
   row on the same ``documents`` table.
4. In a directory holding only ``BENCHMARK.json`` and ``perfbench/``,
   ``run.py`` exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SEED = 5


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}", flush=True)


def check_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    _expect(e2e == run.E2E_UNITS, "BENCHMARK.json end_to_end == run.E2E_UNITS")
    _expect(layers == run.LAYER_UNITS,
            "BENCHMARK.json per_layer == run.LAYER_UNITS")
    _expect(all(w["name"] in workloads.WORKLOADS for w in spec["workloads"]),
            "every BENCHMARK.json workload is defined")
    return {0: e2e, 1: layers}


def tiny_runs(units: dict) -> None:
    for name, wl in workloads.WORKLOADS.items():
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", name,
                 "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
                 "--size", str(wl.tiny)],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else {}
            got = {k: v["unit"] for k, v in res.get("metrics", {}).items()}
            _expect(proc.returncode == 0 and res.get("correct") is True
                    and got == units[trace],
                    f"{name} --trace {trace}: exit 0, correct, all metrics "
                    f"with units")


def _spark():
    work = run.WORK / "selftest"
    run.configure_env(work)
    return run.start_session(work, 4), work


def mutation_and_fidelity() -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from warc2text_spark.plans.spansgen import build_spans
    spark, work = _spark()
    try:
        # crawl_small: corrupt the text of one sampled, written document
        wl = workloads.WORKLOADS["crawl_small"]
        inp, _ = gen.ensure_inputs(run.CACHE, "crawl_small", wl.tiny,
                                   run.INPUT_FILES, SEED)
        out = run.fresh(work / "crawl")
        counters = wl.job(spark, inp, out)
        before, _ = wl.check(inp, out, counters, SEED)
        _expect(all(ok for _, ok in before), "crawl_small: clean output passes")
        sampled = {str(i) for i in checks._sample(range(wl.tiny), SEED)}
        path = next(p for p in sorted((out / "text").rglob("*.parquet"))
                    if sampled & set(pq.read_table(p).column("doc_id")
                                     .to_pylist()))
        t = pq.read_table(path)
        ids = t.column("doc_id").to_pylist()
        row = next(i for i, d in enumerate(ids) if d in sampled)
        text = t.column("plaintext").to_pylist()
        text[row] = "corrupted " + text[row]
        t = t.set_column(t.schema.get_field_index("plaintext"), "plaintext",
                         [text])
        pq.write_table(t, path)
        after, _ = wl.check(inp, out, counters, SEED)
        share = sum(ok for _, ok in after) / len(after)
        _expect(share < 1, f"crawl_small: one corrupted row -> ok_share "
                           f"{share:.4f} < 1")

        # near_dup: lose one planted pair from the SimHash output
        wl = workloads.WORKLOADS["near_dup"]
        inp, _ = gen.ensure_inputs(run.CACHE, "near_dup", wl.tiny,
                                   run.INPUT_FILES, SEED)
        out = run.fresh(work / "near_dup")
        wl.job(spark, inp, out)
        before, _ = wl.check(inp, out, {}, SEED)
        _expect(all(ok for _, ok in before), "near_dup: clean output passes")
        pairs = pq.read_table(out / "simhash").to_pylist()
        with open(inp / "planted.json") as f:
            a, b = (str(x) for x in json.load(f)[0])
        kept = [r for r in pairs if {r["a_id"], r["b_id"]} != {a, b}]
        shutil.rmtree(out / "simhash")
        (out / "simhash").mkdir()
        pq.write_table(pa.Table.from_pylist(kept),
                       out / "simhash" / "part-0.parquet")
        after, _ = wl.check(inp, out, {}, SEED)
        share = sum(ok for _, ok in after) / len(after)
        _expect(share < 1, f"near_dup: one lost planted pair -> ok_share "
                           f"{share:.4f} < 1")

        # the DuckDB spans generator is build_spans, row for row
        inp, _ = gen.ensure_inputs(run.CACHE, "crawl_small", 300, 1, SEED)
        ref = build_spans(spark, str(inp)).orderBy(
            F.col("doc_id").cast("long")).collect()
        ours = spark.read.parquet(str(inp / "spans")).orderBy(
            F.col("doc_id").cast("long")).collect()
        _expect([r.asDict(recursive=True) for r in ref]
                == [r.asDict(recursive=True) for r in ours],
                "gen.spans_sql reproduces build_spans")
    finally:
        run.stop_jvm(spark)
        run.wait_children()
        run._drop_package_zip()
        shutil.rmtree(work, ignore_errors=True)


def bare_directory() -> None:
    bare = run.fresh(run.WORK / "bare")
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_small",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    _expect(proc.returncode != 0 and '"correct"' not in proc.stdout,
            "without the package: non-zero exit, no result")


def main() -> int:
    units = check_spec()
    bare_directory()
    mutation_and_fidelity()
    tiny_runs(units)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
