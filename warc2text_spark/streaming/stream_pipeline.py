"""Structured Streaming extraction: the same stateless dataflow (filters ->
kernels -> demux) bound to a file-stream source.

The reference is a bounded batch job (warc2text_main.cc:218-230) with no
cross-record state beyond counters, so the streaming variant needs no
watermarks or stateful operators: every stage is a map/filter and runs
unchanged under readStream.  Use-case: continuous extraction as new crawl
shards land in a directory/object-store prefix; exactly-once delivery comes
from the sink checkpoint + idempotent partitioned parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.pipeline import (PipelineOptions, demux_by_lang, extract_kept,
                              run_pipeline)
from ..sources.fixtures import INPUT_SCHEMA


def read_span_stream(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int = 16) -> DataFrame:
    return (spark.readStream.schema(INPUT_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


def streaming_extract(spark: SparkSession, input_dir: str,
                      opts: PipelineOptions | None = None) -> DataFrame:
    """PURE streaming extraction plan — no foreachBatch batch shim: the
    native F1-F9 filters, the mapInArrow extraction kernel (langid
    fused), the error dispatch and the per-language demux all compose
    directly on the unbounded DataFrame, because none of them holds
    cross-record state.  Returns the streaming (record x lang) frame;
    attach any sink/trigger.  (The reference is a bounded batch job —
    this is the continuous-ingest form a crawl pipeline runs as shards
    land.)"""
    from ..operators import filters as flt
    opts = opts or PipelineOptions()
    stream = read_span_stream(spark, input_dir)
    main0, _robots, _pdf = flt.split_stream(
        stream,
        robots_process=opts.robots_process,
        user_url_filter=opts.user_url_filter,
        max_record_size=opts.max_record_size,
        case_insensitive=opts.case_insensitive_headers,
        pdf_text=opts.pdf_text,
    )
    _ext, kept = extract_kept(main0, opts)
    return demux_by_lang(kept, opts.paragraph_identification)


def run_streaming_pipeline(spark: SparkSession, input_dir: str, out_dir: str,
                           opts: PipelineOptions | None = None,
                           available_now: bool = True):
    """Start (and with available_now=True, drain) the streaming extraction.

    foreachBatch reuses the exact batch pipeline per micro-batch, writing
    lang-partitioned parquet; the stream checkpoint makes restarts resume
    from the last committed file offset — the streaming analogue of the
    batch bucket ledger.
    """
    opts = opts or PipelineOptions()
    stream = read_span_stream(spark, input_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..plans.pipeline import partition_safe_lang
        res = run_pipeline(batch_df, opts)
        rows = partition_safe_lang(
            demux_by_lang(res.main, opts.paragraph_identification))
        (rows.write.mode("append").partitionBy("lang")
             .parquet(f"{out_dir}/text"))

    writer = (stream.writeStream
              .option("checkpointLocation", f"{out_dir}/_checkpoint")
              .foreachBatch(process_batch))
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
