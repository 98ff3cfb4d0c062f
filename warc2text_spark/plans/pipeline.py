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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import filters as flt
from ..operators.extract import ExtractOptions, keep_predicate, run_extract
from ..operators.langid_op import explode_by_lang


@dataclass
class PipelineOptions:
    classifier: str = "skip"            # skip | heuristic | multilang
    tag_filters_text: str = ""
    tag_filters_invert: bool = False
    skip_extraction: bool = False
    encode_urls: bool = False
    robots_process: bool = False
    user_url_filter: str | None = None
    num_partitions: int | None = None   # salted repartition before Kernel 1
    paragraph_identification: bool = False
    max_record_size: int = flt.MAX_RECORD_SIZE
    # see ExtractOptions.media_text_mode ('extract' for WARC-ingested docs)
    media_text_mode: str = "passthrough"
    # carry transport-decoded payload (base64) for '-f html' outputs
    keep_payload: bool = False
    # F4/F6 on lower(coalesce(...)) for tables that don't honor the
    # lower-cased header contract — correctness over scan pushdown
    case_insensitive_headers: bool = False
    # invalid-UTF-8 policy for no-convert payloads (reference
    # --encoding-errors): 'ignore' | 'replace' | 'strict' (CLI 'discard')
    encoding_errors: str = "replace"
    # beyond-reference: keep application/pdf records in the main stream
    # and extract their text (functions/pdftext.py) instead of routing
    # them to the K3 side WARC
    pdf_text: bool = False


@dataclass
class PipelineResult:
    main: DataFrame       # kept docs: spans/plaintext/err/charset/langs
    robots: DataFrame     # F3 side route (raw input rows)
    pdf: DataFrame        # F7 side route (raw input rows)
    extracted: DataFrame  # post-Kernel-1, pre-drop (for metrics/diagnostics)
    prefiltered: DataFrame  # post-F1-F9 input rows (for A1 counters)
    # CollectMetrics handles attached at plan-build time so counters() can
    # read total/text aggregates from the SAME job that computes the lang
    # aggregate — one input scan, not three (warcpreprocessor.hh:57-62)
    obs_total: object = None
    obs_text: object = None


def extract_kept(main0: DataFrame, opts: PipelineOptions,
                 num_partitions: int | None = None
                 ) -> tuple[DataFrame, DataFrame]:
    """Kernel 1 and its error dispatch over the post-F1-F9 rows: the one
    place that decides which PipelineOptions reach the kernel.  Returns
    (extracted, kept) — every kernel row, and the rows keep_predicate
    keeps."""
    ext = run_extract(main0, ExtractOptions(
        tag_filters_text=opts.tag_filters_text,
        skip_extraction=opts.skip_extraction,
        encode_urls=opts.encode_urls,
        classifier=opts.classifier,
        media_text_mode=opts.media_text_mode,
        keep_payload=opts.keep_payload,
        encoding_errors=opts.encoding_errors,
        pdf_text=opts.pdf_text,
    ), num_partitions=num_partitions)
    kept = ext.filter(keep_predicate(opts.tag_filters_invert,
                                     opts.skip_extraction))
    return ext, kept


def run_pipeline(df: DataFrame, opts: PipelineOptions | None = None) -> PipelineResult:
    from pyspark.sql import Observation
    opts = opts or PipelineOptions()
    main0, robots, pdf = flt.split_stream(
        df,
        robots_process=opts.robots_process,
        user_url_filter=opts.user_url_filter,
        max_record_size=opts.max_record_size,
        case_insensitive=opts.case_insensitive_headers,
        pdf_text=opts.pdf_text,
    )
    # A1 totalRecords/totalBytes ride the plan as a CollectMetrics node —
    # free at execution time, and placed ABOVE the F1-F9 filters so their
    # parquet pushdown is unaffected (CollectMetrics blocks pushdown
    # through itself, so it must sit above anything that needs to reach
    # the scan).
    obs_total = Observation()
    main0_obs = main0.observe(
        obs_total,
        F.count(F.lit(1)).alias("totalRecords"),
        F.coalesce(F.sum(flt.payload_bytes()), F.lit(0)).alias("totalBytes"),
    )
    ext, kept = extract_kept(main0_obs, opts, opts.num_partitions)
    obs_text = Observation()
    kept = kept.observe(
        obs_text,
        F.count(F.lit(1)).alias("textRecords"),
        F.coalesce(F.sum(F.octet_length("plaintext")), F.lit(0)).alias("textBytes"),
    )
    return PipelineResult(main=kept, robots=robots, pdf=pdf, extracted=ext,
                          prefiltered=main0, obs_total=obs_total,
                          obs_text=obs_text)


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


def metadata_json_col():
    """``toJSON(record, chunk, metadata_only=true)`` — one ordered-key JSON
    object (keys f,o,s,rs,u,c,ts,de; ``nlohmann::ordered_json`` preserves
    insertion order, bilangwriter.cc:65-91,140-141).  Spark's ``to_json``
    keeps struct-field order; the reference getters return ``std::string``
    (never null), so string keys coalesce to ''."""
    rs = F.octet_length(F.coalesce(F.col("plaintext"), F.lit("")))
    return F.to_json(F.struct(
        F.col("doc_id").alias("f"),
        F.lit(0).cast("long").alias("o"),
        rs.cast("long").alias("s"),
        rs.cast("long").alias("rs"),
        F.coalesce(F.col("url"), F.lit("")).alias("u"),
        flt.clean_http_ct().alias("c"),
        F.coalesce(F.col("warc_date"), F.lit("")).alias("ts"),
        F.coalesce(F.col("charset"), F.lit("")).alias("de"),
    ))


def jsonl_projection(lang_rows: DataFrame, skip_extraction: bool = False) -> DataFrame:
    """K2: ordered-key JSON objects, one per (record x lang)
    (bilangwriter.cc:65-91,183-203; keys f,o,s,rs,u,c,ts,de[,ps,p][,l]).

    WARC provenance (f=filename, o=offset, s=size) maps to table provenance:
    f=doc_id, o=0, s=payload size.  The ``l`` key is omitted under the skip
    classifier (empty lang), matching the reference.
    """
    rs = F.octet_length(F.coalesce(F.col("plaintext"), F.lit("")))
    base = [
        F.col("doc_id").alias("f"),
        F.lit(0).cast("long").alias("o"),
        rs.cast("long").alias("s"),
        rs.cast("long").alias("rs"),
        F.col("url").alias("u"),
        flt.clean_http_ct().alias("c"),
        F.col("warc_date").alias("ts"),
        F.col("charset").alias("de"),
    ]
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
    """A1 run counters (warcpreprocessor.hh:57-62, aggregation semantics at
    warcpreprocessor.cc:173-235): one row.

    totalRecords/totalBytes: records entering extraction (post F1-F9);
    textRecords/textBytes: records with non-empty extracted text;
    langRecords/langBytes: (record x lang) chunks excluding 'unk'.
    """
    # ONE action: the lang aggregate's job flows through the CollectMetrics
    # nodes run_pipeline attached below (prefiltered totals) and above
    # (kept-text totals) the kernel, so total/text aggregates come out of
    # the same single input scan — at 100 TB the old three-action shape
    # cost one extra full scan per metrics call.
    #
    # An Observation is one-shot: it keeps the metrics of the FIRST action
    # that touches the observed frame.  If the caller already ran any
    # action on result.main — including a PARTIAL scan like limit(1) or
    # toLocalIterator — the cached metrics describe that scan, not the
    # full input.  Probe getOrEmpty() (non-blocking) and take the
    # single-scan path only when OUR aggregate will be the first action;
    # otherwise recompute directly (correct, two extra actions).
    def _fresh(obs) -> bool:
        try:
            jo = obs._jo
        except Exception:
            return False  # cannot probe -> safe (recompute) path
        try:
            return jo.getOrEmpty().isEmpty()
        except Exception as ex:
            # this runtime's Observation.getOrEmpty NPEs while the
            # observation is UNSET (row.schema() on the placeholder) and
            # only returns once an action has filled it — so THAT error
            # means no action has consumed the observation yet.  Probe
            # STRUCTURALLY: only a py4j-carried java.lang.NullPointerException
            # (the unset-placeholder signature, checked by JVM class name —
            # not by message wording) counts as fresh; any other probe
            # failure takes the safe recompute path, since guessing "fresh"
            # on an unknown error could resurface the stale-partial-scan
            # metrics this probe exists to prevent.
            jex = getattr(ex, "java_exception", None)
            try:
                return (jex is not None and jex.getClass().getName()
                        == "java.lang.NullPointerException")
            except Exception:
                return False
    use_obs = (result.obs_total is not None and result.obs_text is not None
               and _fresh(result.obs_total) and _fresh(result.obs_text))
    not_unk = F.col("lang") != "unk"
    langs = explode_by_lang(result.main).agg(
        F.count(F.when(not_unk, 1)).alias("langRecords"),
        F.coalesce(F.sum(F.when(not_unk, F.octet_length("chunk"))),
                   F.lit(0)).alias("langBytes"),
    ).collect()[0]
    if use_obs:
        total, text = result.obs_total.get, result.obs_text.get
    else:  # no observations, or they were consumed by an earlier action
        total = result.prefiltered.agg(
            F.count(F.lit(1)).alias("totalRecords"),
            F.coalesce(F.sum(flt.payload_bytes()), F.lit(0)).alias("totalBytes"),
        ).collect()[0].asDict()
        text = result.main.agg(
            F.count(F.lit(1)).alias("textRecords"),
            F.coalesce(F.sum(F.octet_length("plaintext")), F.lit(0)).alias("textBytes"),
        ).collect()[0].asDict()
    spark = result.main.sparkSession
    return spark.createDataFrame(
        [(total["totalRecords"], total["totalBytes"], text["textRecords"],
          text["textBytes"], langs.langRecords, langs.langBytes)],
        "totalRecords bigint, totalBytes bigint, textRecords bigint, "
        "textBytes bigint, langRecords bigint, langBytes bigint")


def partition_safe_lang(rows: DataFrame) -> DataFrame:
    """Empty-string partition values round-trip as NULL under the Hive
    layout; the skip classifier's "" label becomes an explicit directory."""
    return rows.withColumn(
        "lang", F.when(F.col("lang") == "", F.lit("unlabeled"))
                 .otherwise(F.col("lang")))


def write_outputs(result: PipelineResult, out_dir: str,
                  paragraph_identification: bool = False,
                  fmt: str = "parquet") -> dict:
    """K1/K3: per-language partitioned main output + raw side outputs.

    Returns the A1 counters observed *during* the main write — a single
    pass, no extra aggregation jobs (``Observation`` attaches metric
    expressions to the written frame; warcpreprocessor.hh:57-62)."""
    from pyspark.sql import Observation
    obs_docs = Observation("a1_docs")
    main = result.main.observe(
        obs_docs,
        F.count(F.lit(1)).alias("textRecords"),
        F.coalesce(F.sum(F.octet_length("plaintext")), F.lit(0)).alias("textBytes"),
    )
    rows = partition_safe_lang(demux_by_lang(main, paragraph_identification))
    obs_rows = Observation("a1_langs")
    # langRecords/langBytes exclude 'unk' chunks (warcpreprocessor.cc:219-226;
    # same rule as counters()) even though unk rows are still written
    not_unk = F.col("lang") != "unk"
    rows = rows.observe(
        obs_rows,
        F.count(F.when(not_unk, 1)).alias("langRecords"),
        F.coalesce(F.sum(F.when(not_unk, F.octet_length("chunk"))),
                   F.lit(0)).alias("langBytes"),
    )
    (rows.write.mode("overwrite").partitionBy("lang").format(fmt)
        .save(f"{out_dir}/text"))
    result.robots.write.mode("overwrite").format(fmt).save(f"{out_dir}/robots")
    result.pdf.write.mode("overwrite").format(fmt).save(f"{out_dir}/pdf")
    return {**obs_docs.get, **obs_rows.get}
