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
                              partition_safe_lang, prefilter)
from ..sources.fixtures import INPUT_SCHEMA


def read_span_stream(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int = 16) -> DataFrame:
    return (spark.readStream.schema(INPUT_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


def streaming_extract(spark: SparkSession, input_dir: str,
                      opts: PipelineOptions | None = None) -> DataFrame:
    """PURE streaming extraction plan: the native F1-F9 filters, the
    mapInArrow extraction kernel (langid fused), the error dispatch and
    the per-language demux all compose directly on the unbounded
    DataFrame, because none of them holds cross-record state.  Returns
    the streaming (record x lang) frame; attach any sink/trigger.  (The
    reference is a bounded batch job — this is the continuous-ingest form
    a crawl pipeline runs as shards land.)"""
    opts = opts or PipelineOptions()
    main0, _robots, _pdf = prefilter(read_span_stream(spark, input_dir), opts)
    kept = extract_kept(main0, opts)
    return demux_by_lang(kept, opts.paragraph_identification)


def run_streaming_pipeline(spark: SparkSession, input_dir: str, out_dir: str,
                           opts: PipelineOptions | None = None,
                           available_now: bool = True):
    """Start (and with available_now=True, drain) the streaming extraction.

    Writes streaming_extract's rows through the parquet file sink,
    lang-partitioned; the stream checkpoint makes restarts resume from the
    last committed file offset — the streaming analogue of the batch
    bucket ledger.
    """
    writer = (partition_safe_lang(streaming_extract(spark, input_dir, opts))
              .writeStream.format("parquet").partitionBy("lang")
              .option("path", f"{out_dir}/text")
              .option("checkpointLocation", f"{out_dir}/_checkpoint"))
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
