"""The resumable run: the batch pipeline's stateless dataflow (filters ->
kernels -> demux) bound to a file-stream source and drained into the
parquet file sink.

The reference is a bounded batch job with no resume story: a killed run
redoes whole WARCs (warc2text_main.cc:218-230).  Here Structured
Streaming's file-sink protocol does the bookkeeping: the checkpoint's
``offsets/`` log names each micro-batch's input files before it runs,
``commits/`` marks it done, and the sink's ``_spark_metadata`` log lists
the files each committed batch wrote.  A rerun after a crash resumes at
the first uncommitted batch and redoes only that batch.

Consumer contract: read the output through Spark (``spark.read.parquet``),
which honours ``_spark_metadata``; a crash mid-write can leave orphan part
files that a raw directory glob would see.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from ..operators.filters import split_stream
from ..plans.pipeline import (A1_KEYS, A1_METRICS, PipelineOptions,
                              _observed_demux, _observed_kept,
                              partition_safe_lang)
from ..sources.fixtures import INPUT_SCHEMA

# input files per micro-batch: the unit a crash makes the rerun redo
MAX_FILES_PER_TRIGGER = 16


def read_span_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (spark.readStream.schema(INPUT_SCHEMA)
            .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
            .parquet(input_dir))


def streaming_extract(spark: SparkSession, input_dir: str,
                      opts: PipelineOptions | None = None) -> DataFrame:
    """The batch pipeline's (record x lang) rows over a file stream: the
    native F1-F9 filters, the optional salted repartition, the mapInArrow
    kernel (langid fused), the error dispatch and the demux compose
    directly on the unbounded frame, since none of them holds
    cross-record state.  The three A1 groups ride it under their
    ``A1_METRICS`` names.  Attach any sink and trigger."""
    opts = opts or PipelineOptions()
    main0, _robots, _pdf = split_stream(read_span_stream(spark, input_dir),
                                        opts)
    kept, _, _ = _observed_kept(main0, opts, named=True)
    return _observed_demux(kept, opts, named=True)[0]


class _Progress(StreamingQueryListener):
    """Every micro-batch progress event, by query run: ``recentProgress``
    keeps only the last ``spark.sql.streaming.numRecentProgressUpdates``
    of them.  Events reach a listener in order, so a run's batches are all
    in once its termination event is."""

    def __init__(self):
        self.batches: dict[str, dict] = {}
        self.ended: set[str] = set()
        self.cond = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self.cond:
            self.batches.setdefault(str(p.runId), {})[p.batchId] = (
                p.numInputRows, p.observedMetrics)

    def onQueryTerminated(self, event):
        with self.cond:
            self.ended.add(str(event.runId))
            self.cond.notify_all()


def run_streaming_pipeline(spark: SparkSession, input_dir: str, out_dir: str,
                           opts: PipelineOptions | None = None) -> dict:
    """Extract every input file not yet committed and return the run record.

    Drains streaming_extract's rows with an ``availableNow`` trigger into
    the lang-partitioned parquet file sink at ``<out_dir>/text``, with the
    stream checkpoint at ``<out_dir>/_checkpoint``.  The record is
    ``{"batches": {batch_id: counters}, "totals": counters, "lineage":
    path}``: counters are ``numInputRows`` and the six A1 counters, read
    off the write itself; a batch's input files are listed under
    ``lineage/<batch_id>`` (the checkpoint's source log).  A rerun holds
    only the batches it ran: none when every file was committed."""
    writer = (partition_safe_lang(streaming_extract(spark, input_dir, opts))
              .writeStream.format("parquet").partitionBy("lang")
              .option("path", f"{out_dir}/text")
              .option("checkpointLocation", f"{out_dir}/_checkpoint")
              .trigger(availableNow=True))
    listener = _Progress()
    spark.streams.addListener(listener)
    try:
        q = writer.start()
        q.awaitTermination()
        run = str(q.runId)
        with listener.cond:
            if not listener.cond.wait_for(lambda: run in listener.ended, 600):
                raise RuntimeError(f"no termination event for run {run}")
    finally:
        spark.streams.removeListener(listener)
    batches = {
        b: {"numInputRows": n, **{k: v for name in A1_METRICS
                                  for k, v in metrics[name].asDict().items()}}
        for b, (n, metrics) in sorted(listener.batches.get(run, {}).items())}
    keys = ("numInputRows",) + A1_KEYS
    return {"batches": batches,
            "totals": {k: sum(b[k] for b in batches.values()) for k in keys},
            "lineage": f"{out_dir}/_checkpoint/sources/0"}
