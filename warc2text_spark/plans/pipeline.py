"""End-to-end extraction pipeline (EP-A/B/C of the reference, SURVEY.md §3).

Dataflow (all native except the one Arrow kernel):

    scan -> F1-F9 native filters (+ robots/pdf side routes)
         -> [salted repartition on xxhash64(doc_id)]
         -> Kernel 1 (extract + langid) -> keep_predicate (error dispatch + F14)
         -> explode by lang
         -> partitioned write (lang=...) + side outputs + metrics

Reference lifecycle: /root/reference/src/warcpreprocessor.cc:111-248.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..operators import filters as flt
from ..operators.extract import PipelineOptions, keep_predicate, run_extract
from ..operators.langid_op import explode_by_lang


@dataclass
class PipelineResult:
    main: DataFrame       # kept docs: spans/plaintext/err/charset/langs
    robots: DataFrame     # F3 side route (raw input rows)
    pdf: DataFrame        # F7 side route (raw input rows)
    prefiltered: DataFrame  # post-F1-F9 input rows (for A1 counters)
    opts: PipelineOptions   # the options main was built with
    # A1 totals (below the kernel) and text (above it) ride main as
    # CollectMetrics nodes: the first action over main fills them, so a
    # sink that writes main reads them at no extra pass
    # (warcpreprocessor.hh:57-62; see demux_observed)
    obs_total: Observation
    obs_text: Observation


# The three A1 aggregate groups (warcpreprocessor.hh:57-62, aggregation
# semantics at warcpreprocessor.cc:173-235), each written once.
A1_KEYS = ("totalRecords", "totalBytes", "textRecords", "textBytes",
           "langRecords", "langBytes")


def _total_aggs():
    """records entering extraction (post F1-F9) and their payload bytes."""
    return (F.count(F.lit(1)).alias("totalRecords"),
            F.coalesce(F.sum(flt.payload_bytes()), F.lit(0)).alias("totalBytes"))


def _text_aggs():
    """records the kernel keeps and their extracted text bytes."""
    return (F.count(F.lit(1)).alias("textRecords"),
            F.coalesce(F.sum(F.octet_length("plaintext")),
                       F.lit(0)).alias("textBytes"))


def _lang_aggs():
    """(record x lang) chunks excluding 'unk' (warcpreprocessor.cc:219-226)
    — unk rows are still written; the exclusion is counters-only."""
    not_unk = F.col("lang") != "unk"
    return (F.count(F.when(not_unk, 1)).alias("langRecords"),
            F.coalesce(F.sum(F.when(not_unk, F.octet_length("chunk"))),
                       F.lit(0)).alias("langBytes"))


# Streaming queries reject Observation objects: there the three groups
# are observed under these names, and each micro-batch's progress reports
# them in its observedMetrics.
A1_METRICS = ("a1_total", "a1_text", "a1_lang")


def _observed(df: DataFrame, aggs, name: str | None = None):
    """``df`` with ``aggs`` observed on it, and what reads them: a fresh
    Observation, or the metric ``name`` itself when one is given."""
    obs = name or Observation()
    return df.observe(obs, *aggs), obs


def _observed_kept(main0: DataFrame, opts: PipelineOptions,
                   named: bool = False):
    """Kernel 1 over main0 with the A1 totals observed below it and the
    text group above it (under ``A1_METRICS`` names when ``named``).  The
    totals' CollectMetrics sits ABOVE the F1-F9 filters, since it blocks
    pushdown through itself and the filters must reach the parquet scan."""
    total, text, _ = A1_METRICS if named else (None, None, None)
    main0_obs, obs_total = _observed(main0, _total_aggs(), total)
    kept, obs_text = _observed(
        run_extract(main0_obs, opts).filter(keep_predicate(opts)),
        _text_aggs(), text)
    return kept, obs_total, obs_text


def _observed_demux(kept: DataFrame, opts: PipelineOptions,
                    named: bool = False):
    """demux_by_lang over ``kept`` with the A1 lang group observed on the
    chunks as langid cut them, before paragraph ids (under its
    ``A1_METRICS`` name when ``named``)."""
    rows, obs_lang = _observed(explode_by_lang(kept), _lang_aggs(),
                               A1_METRICS[2] if named else None)
    if opts.paragraph_identification:
        rows = rows.withColumn("chunk", paragraph_id_col())
    return rows, obs_lang


def run_pipeline(df: DataFrame, opts: PipelineOptions | None = None) -> PipelineResult:
    opts = opts or PipelineOptions()
    main0, robots, pdf = flt.split_stream(df, opts)
    kept, obs_total, obs_text = _observed_kept(main0, opts)
    return PipelineResult(main=kept, robots=robots, pdf=pdf,
                          prefiltered=main0, opts=opts,
                          obs_total=obs_total, obs_text=obs_text)


def paragraph_id_col(chunk=None):
    """Native paragraph identification (bilangwriter.cc:156-169): split on
    newline, drop trailing empties, suffix each line with \\t{i}:{n}."""
    c = chunk if chunk is not None else F.col("chunk")
    lines = F.split(c, "\n")
    trailing = F.aggregate(
        F.reverse(lines),
        F.struct(F.lit(0).alias("n"), F.lit(False).alias("stop")),
        lambda acc, x: F.struct(
            F.when(acc["stop"] | (x != ""), acc["n"]).otherwise(acc["n"] + 1).alias("n"),
            (acc["stop"] | (x != "")).alias("stop"),
        ),
        lambda acc: acc["n"],
    )
    n = F.size(lines) - trailing
    kept = F.slice(lines, F.lit(1), n)
    tagged = F.transform(
        kept, lambda x, i: F.concat(x, F.lit("\t"), (i + 1).cast("string"),
                                    F.lit(":"), n.cast("string")))
    return F.when(n > 0, F.concat(F.array_join(tagged, "\n"), F.lit("\n"))) \
            .otherwise(F.lit(""))


def demux_by_lang(result_main: DataFrame, paragraph_identification: bool = False) -> DataFrame:
    """(record x lang) rows — the per-language demultiplex (A3)."""
    rows = explode_by_lang(result_main)
    if paragraph_identification:
        rows = rows.withColumn("chunk", paragraph_id_col())
    return rows


def demux_observed(result: PipelineResult):
    """demux_by_lang over ``result.main`` for a sink to write, with the A1
    lang group attached and paragraph ids as ``result.opts`` asks.
    Returns ``(rows, a1)``: once the sink's action over ``rows`` has run,
    ``a1()`` returns the six A1 counters — totals and text from
    ``result``'s own Observations, lang from this one — at no extra pass.
    The lang group counts the chunks as langid cut them: paragraph ids are
    the writer's (bilangwriter.cc:156-169), so their tags are never
    counted.

    The sink's action must be a Dataset action (a write, ``collect``), the
    first over ``result.main``: an Observation keeps the metrics of the
    first action that touches it, and ``toLocalIterator`` or an RDD-level
    ``foreachPartition`` never fill one (``a1()`` would block).  Use
    counters() there."""
    rows, obs_lang = _observed_demux(result.main, result.opts)
    return rows, lambda: {**result.obs_total.get, **result.obs_text.get,
                          **obs_lang.get}


def _str(name: str):
    """a string column as the reference getters return it (``std::string``,
    never null)."""
    return F.coalesce(F.col(name), F.lit(""))


def _record_keys() -> list:
    """The keys ``f,o,s,rs,u,c,ts,de`` of the reference's
    ``toJSON(record, chunk, ...)`` in insertion order
    (``nlohmann::ordered_json``, bilangwriter.cc:65-91).  WARC provenance
    (f=filename, o=offset, s=size) maps to table provenance: f=doc_id,
    o=0, s=rs=payload bytes.  String keys are never null, so ``to_json``
    never drops one."""
    rs = F.octet_length(_str("plaintext")).cast("long")
    return [F.col("doc_id").alias("f"), F.lit(0).cast("long").alias("o"),
            rs.alias("s"), rs.alias("rs"), _str("url").alias("u"),
            flt.clean_http_ct().alias("c"), _str("warc_date").alias("ts"),
            _str("charset").alias("de")]


def metadata_json_col():
    """``toJSON(record, chunk, metadata_only=true)`` — one ordered-key JSON
    object (bilangwriter.cc:140-141); Spark's ``to_json`` keeps
    struct-field order."""
    return F.to_json(F.struct(*_record_keys()))


# The -f output fields (bilangwriter.cc:93-154); output_columns defines
# their values.
OUTPUT_FIELDS = ("url", "text", "mime", "file", "date", "metadata", "html")


def b64_line(col):
    """base64 of ``col`` as one line: F.base64 is MIME-chunked (CRLF every
    76 chars) on this runtime, so the breaks are stripped."""
    return F.regexp_replace(F.base64(col.cast("binary")), "[\r\n]", "")


def output_columns(lang_rows: DataFrame, fields) -> list:
    """The ``-f`` values over demux rows, one never-null string column
    per requested field, named after it (bilangwriter.cc:93-154).  Every
    sink writes these; a sink only encodes them.

    ``file`` is the provenance triple ``filename:offset:size``
    (bilangwriter.cc:121-125), here ``doc_id:0:<text bytes>``; ``html`` is
    the base64 transport-decoded payload (bilangwriter.cc:126-131), so it
    needs the ``payload_b64`` column."""
    unknown = set(fields) - set(OUTPUT_FIELDS)
    if unknown:
        raise ValueError(f"unknown output fields: {sorted(unknown)}")
    if "html" in fields and "payload_b64" not in lang_rows.columns:
        # substituting base64(plaintext) would hand a consumer the wrong
        # bytes; the CLI sets keep_payload for '-f html', a library
        # caller must too
        raise ValueError(
            "'html' field requested but the frame has no payload_b64 "
            "column — run the pipeline with keep_payload=True "
            "(CLI: '-f html' sets it automatically)")
    value = {
        "url": _str("url"),
        "text": _str("chunk"),
        "mime": flt.clean_http_ct(),
        "file": F.concat_ws(":", "doc_id", F.lit("0"),
                            F.octet_length(_str("plaintext"))),
        "date": _str("warc_date"),
        "metadata": metadata_json_col(),
        "html": _str("payload_b64"),
    }
    return [value[f].alias(f) for f in fields]


def jsonl_projection(lang_rows: DataFrame, skip_extraction: bool = False) -> DataFrame:
    """K2: ordered-key JSON objects, one per (record x lang)
    (bilangwriter.cc:65-91,183-203; keys f,o,s,rs,u,c,ts,de[,ps,p][,l]).

    The ``l`` key is omitted under the skip classifier (empty lang),
    matching the reference.
    """
    base = _record_keys()
    if not skip_extraction:
        base += [
            F.octet_length("chunk").cast("long").alias("ps"),
            F.col("chunk").alias("p"),
        ]
    df = lang_rows.select(*base, F.col("lang"))
    with_l = F.to_json(F.struct(*[F.col(c) for c in df.columns if c != "lang"],
                                F.col("lang").alias("l")))
    without_l = F.to_json(F.struct(*[F.col(c) for c in df.columns if c != "lang"]))
    return df.select(
        F.when(F.col("lang") == "", without_l).otherwise(with_l).alias("jsonl"))


def counters(result: PipelineResult) -> DataFrame:
    """A1 run counters (warcpreprocessor.hh:57-62): one row, from one pass.

    Re-plans Kernel 1 over ``result.prefiltered`` with the result's own
    options and fresh Observations, so the value never depends on what
    earlier actions (full, partial or none) did with ``result.main``; the
    lang aggregate is the one action, and the totals and text groups ride
    its job."""
    kept, obs_total, obs_text = _observed_kept(result.prefiltered, result.opts)
    langs = explode_by_lang(kept).agg(*_lang_aggs()).collect()[0].asDict()
    a1 = {**obs_total.get, **obs_text.get, **langs}
    return result.main.sparkSession.createDataFrame(
        [tuple(a1[k] for k in A1_KEYS)],
        ", ".join(f"{k} bigint" for k in A1_KEYS))


def partition_safe_lang(rows: DataFrame) -> DataFrame:
    """Empty-string partition values round-trip as NULL under the Hive
    layout; the skip classifier's "" label becomes an explicit directory."""
    return rows.withColumn(
        "lang", F.when(F.col("lang") == "", F.lit("unlabeled"))
                 .otherwise(F.col("lang")))


def write_outputs(result: PipelineResult, out_dir: str) -> dict:
    """K1/K3: per-language partitioned parquet main output + raw side
    outputs.

    Returns the six A1 counters observed *during* the main write — a single
    pass, no extra aggregation jobs (see demux_observed)."""
    rows, a1 = demux_observed(result)
    (partition_safe_lang(rows).write.mode("overwrite").partitionBy("lang")
        .parquet(f"{out_dir}/text"))
    result.robots.write.mode("overwrite").parquet(f"{out_dir}/robots")
    result.pdf.write.mode("overwrite").parquet(f"{out_dir}/pdf")
    return a1()
