"""warc2text_spark benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload crawl_small --seed 1 --seconds 12 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` in a
child process before anything is timed and cached under
``.perfbench_cache/`` (verified by checksum on reuse); scratch outputs go to
``.perfbench_work/``.  The package runs at ``local[nproc]`` with the driver
heap pinned to 2g through ``SPARK_DRIVER_MEM``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics from a plan-prefix ladder and a single-threaded pass over
the kernel functions.  The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is the
run's host stamp.  Exits non-zero without a result when the package cannot
be imported, and non-zero with ``correct: false`` when a job fails.
See perfbench/README.md for the workloads and the metric table.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".perfbench_cache"
WORK = ROOT / ".perfbench_work"
WORKLOADS = ("crawl_small", "near_dup")
INPUT_FILES = 8
# the driver heap, passed as both -Xmx (session.py reads SPARK_DRIVER_MEM)
# and -Xms; never taken from the caller's environment
DRIVER_MEM = "2g"

E2E_UNITS = {"setup_s": "s", "job_s": "s", "docs_per_s": "docs/s",
             "input_mb_per_s": "MB/s", "peak_rss_mb": "MB", "ok_share": "share"}
LAYER_UNITS = {
    "sources.parse_s": "s", "sources.records": "count", "sources.mb_in": "MB",
    "filters.self_s": "s", "filters.rows_in": "count",
    "filters.rows_kept": "count", "filters.rows_routed": "count",
    "extract.self_s": "s", "extract.scan_nodes": "count",
    "extract.arrow_nodes": "count", "extract.arrow_sent_mb": "MB",
    "extract.arrow_recv_mb": "MB", "extract.py_boot_ms": "ms",
    "extract.py_init_ms": "ms", "extract.py_total_ms": "ms",
    "extract.rows_kept": "count", "extract.kept_share": "share",
    "transport.us_per_doc": "us", "charset.us_per_doc": "us",
    "textextract.us_per_doc": "us", "entities.us_per_doc": "us",
    "langid.us_per_doc": "us", "warcio.us_per_record": "us",
    "transport.us_per_bigdoc": "us", "charset.us_per_bigdoc": "us",
    "textextract.us_per_bigdoc": "us", "entities.us_per_bigdoc": "us",
    "langid.us_per_bigdoc": "us", "warcio.us_per_bigrecord": "us",
    "pipeline.demux_self_s": "s", "pipeline.lang_rows": "count",
    "pipeline.text_share": "share",
    "sinks.write_self_s": "s", "sinks.files_out": "count", "sinks.mb_out": "MB",
    "exchange.nodes": "count", "exchange.shuffle_mb": "MB",
    "dedup.signature_s": "s", "dedup.candidates_s": "s",
    "dedup.candidate_pairs": "count", "dedup.pairs_out": "count",
    "dedup.planted_recall": "share",
    "session.start_s": "s", "session.warmup_s": "s",
    "py.worker_peak_rss_mb": "MB", "trace.overhead_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", type=int, default=None,
                   help="documents per job (default: the workload's size)")
    return p.parse_args(argv)


def generate(workload: str, size: int, n_files: int,
             seed: int) -> tuple[Path, dict, float]:
    """Inputs from a child process, so this process has not yet imported the
    package or Spark when set-up is timed; also returns the seconds it took,
    which set-up leaves out."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, str(HERE / "gen.py"), workload, str(size),
         str(n_files), str(seed), str(CACHE)], cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr)
        raise RuntimeError(f"input generation failed for {workload}")
    info = json.loads(proc.stdout.strip().splitlines()[-1])
    return Path(info["dir"]), info["meta"], time.perf_counter() - t0


def configure_env(work: Path) -> None:
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # Spark's local[nproc] task slots are the only parallelism: no
    # per-worker Arrow/BLAS thread pools on top of them
    os.environ["OMP_NUM_THREADS"] = "1"


def start_session(work: Path, cores: int):
    from warc2text_spark.session import get_spark
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf={
        # one scan partition per input file: every Python task pays a
        # fixed start cost, so the partition count is pinned by the
        # generator's file count, not by the input size
        "spark.sql.files.openCostInBytes": str(128 << 20),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        # initial heap = max heap: the JVM does not grow its heap during a
        # run, so peak RSS follows the program, not heap-sizing decisions
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} "
            f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def wait_children(timeout: float = 30.0) -> None:
    from measure import _tree_pids
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        kids = [p for p in _tree_pids(os.getpid()) if p != os.getpid()]
        if not kids:
            return
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)
    for pid in [p for p in _tree_pids(os.getpid()) if p != os.getpid()]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def timed(fn, *args):
    t0 = time.perf_counter()
    value = fn(*args)
    return time.perf_counter() - t0, value


def fresh(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    return path


def run(args) -> tuple[dict, dict, bool]:
    import workloads
    from measure import RssSampler, Spans, host_state
    wl = workloads.WORKLOADS[args.workload]
    size = args.size or wl.size
    work = WORK / f"{args.workload}-{os.getpid()}"
    # 8 files = 8 scan partitions, two per task slot on the 4-core
    # reference host
    inp, meta, gen_s = generate(args.workload, size, INPUT_FILES, args.seed)
    configure_env(work)
    cores = len(os.sched_getaffinity(0))
    host_start = host_state()
    sp = Spans()
    out = work / "out"

    # set-up, cold: from process start (input generation left out) through
    # package import, JVM start, session up, package shipped and one
    # warm-up job done.  The warm-up is the timed job itself, on the same
    # input: a smaller warm-up input left the first timed job paying for
    # the larger Arrow batches and heap, and its time split in two modes.
    spark = None
    try:
        with sp.span("setup"):
            t0 = time.perf_counter()
            spark = start_session(work, cores)
            session_start = time.perf_counter() - t0
            warmup_s, _ = timed(wl.job, spark, inp, fresh(out))
        setup_s = time.perf_counter() - PROCESS_T0 - gen_s

        jobs, result = [], {}
        with RssSampler() as rss:
            # jobs back to back for --seconds: another job starts only if,
            # at the median job time so far, it ends inside the window
            t_start = time.perf_counter()
            while True:
                fresh(out)
                with sp.span(f"job.{len(jobs)}"):
                    dt, result = timed(wl.job, spark, inp, out)
                jobs.append(dt)
                elapsed = time.perf_counter() - t_start
                if (args.trace or elapsed + statistics.median(jobs)
                        > args.seconds):
                    break
            if args.trace:
                fresh(out)
                with sp.span("ladder"):
                    layers, result, traced_job = wl.ladder(
                        spark, inp, out, sp, meta["payload_bytes"] / 1e6)
        checked, extra = wl.check(inp, out, result, args.seed)
        if args.trace:
            rows = wl.sample_rows(inp)
            with sp.span("functions"):
                layers.update(workloads.functions_metrics(rows))
    finally:
        if spark is not None:
            stop_jvm(spark)
        wait_children()
        _drop_package_zip()

    n_ok = sum(ok for _, ok in checked)
    ok_share = n_ok / len(checked)
    job_s = statistics.median(jobs)
    if args.trace:
        layers.update({
            "dedup.pairs_out": extra.get("pairs_out", 0),
            "dedup.planted_recall": extra.get("planted_recall", 0.0),
            "session.start_s": session_start,
            "session.warmup_s": warmup_s,
            "py.worker_peak_rss_mb": rss.peak["python"],
            "trace.overhead_s": traced_job - job_s,
        })
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        values = {"setup_s": setup_s, "job_s": job_s,
                  "docs_per_s": meta["docs"] / job_s,
                  "input_mb_per_s": meta["payload_bytes"] / 1e6 / job_s,
                  "peak_rss_mb": rss.peak["total"], "ok_share": ok_share}
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in E2E_UNITS.items()}
    failed = [name for name, ok in checked if not ok]
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "size": size, "cores": cores,
              "jobs_s": jobs, "setup_s": setup_s, "gen_s": gen_s,
              "session_start_s": session_start, "warmup_s": warmup_s,
              "peak_rss_mb": rss.peak,
              "failed_checks": failed[:50], "spans": sp.records,
              "host_start": host_start, "host_end": host_state()}
    shutil.rmtree(work, ignore_errors=True)
    WORK.mkdir(exist_ok=True)
    with open(WORK / f"last-{args.workload}-trace{args.trace}.json", "w") as f:
        json.dump(record, f)
    summary = {"correct": not failed, "attempted": len(checked),
               "failed": len(failed), "metrics": metrics}
    return summary, {"host_start": host_start, "host_end": record["host_end"],
                     "jobs_s": jobs, "setup_s": setup_s}, not failed


def _drop_package_zip() -> None:
    """``session.get_spark`` ships the package as /tmp/warc2text_spark_<pid>.zip;
    remove this process's copy."""
    Path(f"/tmp/warc2text_spark_{os.getpid()}.zip").unlink(missing_ok=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    # located, not imported: importing it is part of the timed set-up
    if importlib.util.find_spec("warc2text_spark") is None:
        print("perfbench: the warc2text_spark package is not in the checkout",
              file=sys.stderr)
        return 2
    try:
        summary, host, ok = run(args)
    except Exception:
        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                          "metrics": {"ok_share": {"value": 0.0,
                                                   "unit": "share"}}}))
        return 1
    print(json.dumps({"host": host}))
    print(json.dumps(summary))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
