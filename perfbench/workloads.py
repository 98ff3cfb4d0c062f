"""The workloads: the timed job, the traced plan-prefix ladder and the
sample rows for the single-threaded ``functions`` pass.

Every job and every rung calls the package's public API only.  A layer a
workload does not call keeps an empty rung: its self time is the duration
of an empty span (the recorder's floor, microseconds) and its counts are 0.
"""

from __future__ import annotations

import base64
import gzip
import time
from dataclasses import dataclass
from pathlib import Path
from types import SimpleNamespace
from typing import Callable

import checks
from measure import Spans, force, summarize_plan

MB = 1e6


@dataclass(frozen=True)
class Workload:
    size: int      # generated documents per timed job
    tiny: int      # size in self-test mode
    job: Callable
    ladder: Callable
    check: Callable
    sample_rows: Callable


# ------------------------------------------------------------------- jobs

def _write_pipeline(res, out: Path) -> dict:
    from warc2text_spark.plans.pipeline import write_outputs
    a1 = write_outputs(res, str(out))
    return {**res.obs_total.get, **a1}


def _crawl_read(spark, inp: Path):
    return spark.read.parquet(str(inp / "spans"))


def _crawl_opts():
    from warc2text_spark.plans.pipeline import PipelineOptions
    return PipelineOptions(classifier="heuristic")


def crawl_job(spark, inp: Path, out: Path) -> dict:
    from warc2text_spark.plans.pipeline import run_pipeline
    return _write_pipeline(run_pipeline(_crawl_read(spark, inp), _crawl_opts()),
                           out)


def _pairs(docs):
    from warc2text_spark.operators import dedup
    return (dedup.minhash_candidate_pairs(docs),
            dedup.simhash_near_pairs(docs))


def near_dup_job(spark, inp: Path, out: Path) -> dict:
    from warc2text_spark.operators.dedup import release_intermediates
    mh, sh = _pairs(spark.read.parquet(str(inp / "docs")))
    try:
        mh.write.mode("overwrite").parquet(str(out / "minhash"))
        sh.write.mode("overwrite").parquet(str(out / "simhash"))
    finally:
        release_intermediates(mh)
        release_intermediates(sh)
    return {}


# ----------------------------------------------------------------- ladder

def _empty(sp: Spans, name: str) -> float:
    with sp.span(name):
        pass
    return sp.duration(name)


def _rows_in(path: Path) -> int:
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(p).metadata.num_rows
               for p in path.rglob("*.parquet"))


def _sink_stats(out: Path) -> dict:
    files = [p for p in out.rglob("*") if p.is_file()
             and not p.name.startswith((".", "_"))]
    return {"sinks.files_out": len(files),
            "sinks.mb_out": sum(p.stat().st_size for p in files) / MB}


def _plan_metrics(prefix: str, summary: dict, keys) -> dict:
    scale = {"arrow_sent_b": ("arrow_sent_mb", MB),
             "arrow_recv_b": ("arrow_recv_mb", MB)}
    out = {}
    for k in keys:
        name, div = scale.get(k, (k, 1))
        out[f"{prefix}.{name}"] = summary[k] / div
    return out


_EXTRACT_PLAN_KEYS = ("scan_nodes", "arrow_nodes", "arrow_sent_b",
                      "arrow_recv_b", "py_boot_ms", "py_init_ms",
                      "py_total_ms")


def crawl_ladder(spark, inp: Path, out: Path, sp: Spans, input_mb: float):
    """scan -> +split_stream -> +run_extract -> +demux_by_lang ->
    +write_outputs, each rung one forced plan; self time = rung - previous."""
    from warc2text_spark.operators.filters import split_stream
    from warc2text_spark.plans.pipeline import demux_by_lang, run_pipeline
    with sp.span("rung.scan"):
        n_in, _ = force(_crawl_read(spark, inp))
    with sp.span("rung.split_stream"):
        n_main, _ = force(split_stream(_crawl_read(spark, inp))[0])
    res = run_pipeline(_crawl_read(spark, inp), _crawl_opts())
    with sp.span("rung.run_extract"):
        n_kept, ext_nodes = force(res.main)
    with sp.span("rung.demux_by_lang"):
        n_lang, demux_nodes = force(demux_by_lang(res.main))
    with sp.span("rung.write_outputs"):
        counters = crawl_job(spark, inp, out)
    d = {k: sp.duration(f"rung.{k}") for k in
         ("scan", "split_stream", "run_extract", "demux_by_lang",
          "write_outputs")}
    ext = summarize_plan(ext_nodes)
    exch = summarize_plan(demux_nodes)
    m = {
        "sources.parse_s": d["scan"],
        "sources.records": n_in,
        "sources.mb_in": input_mb,
        "filters.self_s": d["split_stream"] - d["scan"],
        "filters.rows_in": n_in,
        "filters.rows_kept": n_main,
        "filters.rows_routed": _rows_in(out / "robots") + _rows_in(out / "pdf"),
        "extract.self_s": d["run_extract"] - d["split_stream"],
        "extract.rows_kept": n_kept,
        "extract.kept_share": n_kept / n_main if n_main else 0.0,
        **_plan_metrics("extract", ext, _EXTRACT_PLAN_KEYS),
        "pipeline.demux_self_s": d["demux_by_lang"] - d["run_extract"],
        "pipeline.lang_rows": n_lang,
        "pipeline.text_share": (counters["textBytes"] / counters["totalBytes"]
                                if counters["totalBytes"] else 0.0),
        "sinks.write_self_s": d["write_outputs"] - d["demux_by_lang"],
        **_sink_stats(out),
        "exchange.nodes": exch["exchange_nodes"],
        "exchange.shuffle_mb": exch["shuffle_b"] / MB,
        "dedup.signature_s": _empty(sp, "rung.dedup_signatures"),
        "dedup.candidates_s": _empty(sp, "rung.dedup_candidates"),
        "dedup.candidate_pairs": 0,
    }
    return m, counters, d["write_outputs"]


def near_dup_ladder(spark, inp: Path, out: Path, sp: Spans,
                    input_mb: float):
    """scan -> +signatures (MinHash and SimHash) -> +candidate pair joins
    -> +parquet sink."""
    from warc2text_spark.operators.dedup import (minhash_signatures,
                                                 release_intermediates)
    from warc2text_spark.operators.textops import simhash64

    def docs():
        return spark.read.parquet(str(inp / "docs"))
    with sp.span("rung.scan"):
        n_in, _ = force(docs())
    scan = sp.duration("rung.scan")
    empties = {k: _empty(sp, f"rung.{k}") for k in
               ("split_stream", "run_extract", "demux_by_lang")}
    with sp.span("rung.dedup_signatures"):
        force(minhash_signatures(docs()))
        force(simhash64(docs()))
    nodes = []
    with sp.span("rung.dedup_candidates"):
        for pairs in _pairs(docs()):
            try:
                nodes += force(pairs)[1]
            finally:
                release_intermediates(pairs)
    with sp.span("rung.write_outputs"):
        job_result = near_dup_job(spark, inp, out)
    sig = sp.duration("rung.dedup_signatures")
    cand = sp.duration("rung.dedup_candidates")
    write = sp.duration("rung.write_outputs")
    s = summarize_plan(nodes)
    joined = sum(m.get("numOutputRows", 0) for n, m in nodes if "Join" in n)
    m = {
        "sources.parse_s": scan,
        "sources.records": n_in,
        "sources.mb_in": input_mb,
        "filters.self_s": empties["split_stream"],
        "filters.rows_in": 0, "filters.rows_kept": 0, "filters.rows_routed": 0,
        "extract.self_s": empties["run_extract"],
        "extract.rows_kept": 0, "extract.kept_share": 0.0,
        **_plan_metrics("extract", summarize_plan([]), _EXTRACT_PLAN_KEYS),
        "pipeline.demux_self_s": empties["demux_by_lang"],
        "pipeline.lang_rows": 0, "pipeline.text_share": 0.0,
        "sinks.write_self_s": write - cand,
        **_sink_stats(out),
        "exchange.nodes": s["exchange_nodes"],
        "exchange.shuffle_mb": s["shuffle_b"] / MB,
        "dedup.signature_s": sig - 2 * scan,
        "dedup.candidates_s": cand - sig,
        "dedup.candidate_pairs": joined,
    }
    return m, job_result, write


# ------------------------------------------------------- functions sample

def _rows_from_parquet(path: Path, n: int) -> list[dict]:
    import pyarrow.dataset as ds
    return ds.dataset(str(path)).head(n).to_pylist()


def crawl_sample(inp: Path, n: int = 300) -> list[dict]:
    return _rows_from_parquet(inp / "spans", n)


def near_dup_sample(inp: Path, n: int = 300) -> list[dict]:
    rows = _rows_from_parquet(inp / "docs", n)
    return [dict(doc_id=str(r["doc_id"]), url=f"https://d.example/{r['doc_id']}",
                 warc_type="response", warc_ct="application/http; msgtype=response",
                 http_status="200 OK", http_ct="text/plain", content_enc="",
                 transfer_enc="", warc_date="2024-01-01T00:00:00Z",
                 spans=[dict(kind="text", text=r["text"], media_ref="",
                             offset=0)]) for r in rows]


def functions_metrics(rows: list[dict]) -> dict:
    """The ``functions`` pass over the workload's own sample rows
    (``*.us_per_doc``, ``warcio.us_per_record``) and over the fixed big-page
    sample of ``gen.big_pages`` (``*.us_per_bigdoc``,
    ``warcio.us_per_bigrecord``): ~16 KB pages, legacy charsets included."""
    from gen import big_pages
    return {**functions_pass(rows, "doc", "record"),
            **functions_pass(big_pages(), "bigdoc", "bigrecord")}


def functions_pass(rows: list[dict], per_doc: str, per_record: str) -> dict:
    """Single-threaded pass over ``rows`` calling each kernel function
    directly, in the order ``functions/record.clean_payload`` calls them;
    microseconds per document, and per record for ``parse_warc_file`` (the
    per-file kernel of ``warc_to_spans_df``) over the rows serialized as
    one ``.warc.gz`` with ``sinks.warc_writer.row_to_warc_record``."""
    from warc2text_spark.functions import charset as cs
    from warc2text_spark.functions import textextract as tx
    from warc2text_spark.functions.entities import decode_entities
    from warc2text_spark.functions.langid import get_detector
    from warc2text_spark.functions.record import clean_content_type
    from warc2text_spark.functions.transport import transport_decode
    from warc2text_spark.sinks.warc_writer import row_to_warc_record
    from warc2text_spark.sources.warcio import parse_warc_file

    ns = {k: 0 for k in ("transport", "charset", "textextract", "entities",
                         "langid")}
    clock = time.perf_counter_ns
    detector = get_detector("heuristic")
    for r in rows:
        clean_ct, declared = clean_content_type(r["http_ct"] or "")
        texts = []
        for s in r["spans"]:
            if s["kind"] == "media":
                payload = base64.b64decode(s["media_ref"])
            else:
                payload = s["text"].encode("utf-8")
            t0 = clock()
            payload = transport_decode(payload, r["transfer_enc"] or "",
                                       r["content_enc"] or "")
            t1 = clock()
            charset = cs.detect_charset(payload, declared) or "utf-8"
            t2 = clock()
            if clean_ct == "text/plain":
                extracted = tx.trim_lines_copy(payload)
            else:
                extracted, _ = tx.process_html(payload)
            t3 = clock()
            if cs.needs_conversion(charset):
                text = cs.to_utf8(extracted, charset)
            else:
                text = extracted.decode("utf-8", errors="replace")
            t4 = clock()
            if clean_ct != "text/plain":
                text = decode_entities(text)
            t5 = clock()
            ns["transport"] += t1 - t0
            ns["charset"] += (t2 - t1) + (t4 - t3)
            ns["textextract"] += t3 - t2
            ns["entities"] += t5 - t4
            texts.append(text)
        t0 = clock()
        detector.detect("".join(texts))
        ns["langid"] += clock() - t0
    warc_bytes = b"".join(gzip.compress(row_to_warc_record(SimpleNamespace(
        **{**r, "spans": [SimpleNamespace(**s) for s in r["spans"]]})), 6)
        for r in rows)
    t0 = clock()
    n_rec = len(parse_warc_file(warc_bytes, "sample.warc.gz"))
    warc_ns = clock() - t0
    out = {f"{k}.us_per_{per_doc}": v / 1e3 / len(rows) for k, v in ns.items()}
    out[f"warcio.us_per_{per_record}"] = warc_ns / 1e3 / max(n_rec, 1)
    return out


# --------------------------------------------------------------- registry

def _check_crawl_small(inp, out, result, seed):
    return checks.check_crawl_small(inp, out, result, seed), {}


def _check_near_dup(inp, out, result, seed):
    return checks.check_near_dup(inp, out, seed)


WORKLOADS = {
    "crawl_small": Workload(
        size=120000, tiny=600, job=crawl_job,
        ladder=crawl_ladder,
        check=_check_crawl_small,
        sample_rows=crawl_sample),
    "near_dup": Workload(
        size=9000, tiny=200, job=near_dup_job,
        ladder=near_dup_ladder, check=_check_near_dup,
        sample_rows=near_dup_sample),
}
