"""The resumable streaming run: exactly-once visible output across crashes,
and the run record's counters."""

import os
import shutil

import pytest

from tests.fixture_rows import _doc, _t
from warc2text_spark.plans.pipeline import (A1_KEYS, PipelineOptions,
                                            counters, demux_by_lang,
                                            run_pipeline)
from warc2text_spark.sources.fixtures import INPUT_SCHEMA
from warc2text_spark.streaming import stream_pipeline
from warc2text_spark.streaming.stream_pipeline import (run_streaming_pipeline,
                                                       streaming_extract)


def make_docs(spark, n=40):
    rows = [_doc(f"doc-{i:04d}", [_t(f"<p>body {i} of document</p>")])
            for i in range(n)]
    return spark.createDataFrame(rows, schema=INPUT_SCHEMA)


@pytest.fixture
def one_file_per_batch(monkeypatch):
    monkeypatch.setattr(stream_pipeline, "MAX_FILES_PER_TRIGGER", 1)


def write_files(spark, path, n_docs, n_files):
    make_docs(spark, n_docs).repartition(n_files).write.parquet(path)
    return sorted(f"doc-{i:04d}" for i in range(n_docs))


def doc_ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


@pytest.mark.parametrize("n", [25])
def test_streaming_pipeline(spark, tmp_path, n):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "sout")
    make_docs(spark, n).repartition(3).write.parquet(inp)
    rec = run_streaming_pipeline(spark, inp, out,
                                 PipelineOptions(classifier="skip"))
    assert rec["totals"]["numInputRows"] == n
    assert rec["totals"]["textRecords"] == n
    for b in rec["batches"]:  # the input files each batch read
        with open(f"{rec['lineage']}/{b}") as f:
            assert inp in f.read()
    got = spark.read.parquet(f"{out}/text")
    assert got.count() == n
    assert got.select("lang").distinct().collect()[0].lang == "unlabeled"

    # idempotent restart: the checkpoint remembers processed files
    rec = run_streaming_pipeline(spark, inp, out,
                                 PipelineOptions(classifier="skip"))
    assert rec["batches"] == {}
    assert rec["totals"] == dict.fromkeys(("numInputRows",) + A1_KEYS, 0)
    assert spark.read.parquet(f"{out}/text").count() == n


def test_crash_between_write_and_commit(spark, tmp_path, one_file_per_batch):
    """A crash after batch N's files are written but before its commit:
    the rerun redoes batch N alone, with the same counters, and Spark
    readers see every input doc exactly once."""
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    want = write_files(spark, inp, 40, 4)
    opts = PipelineOptions(classifier="heuristic")
    first = run_streaming_pipeline(spark, inp, out, opts)
    assert sorted(first["batches"]) == [0, 1, 2, 3]
    last = max(first["batches"])
    for log in (f"{out}/_checkpoint/commits", f"{out}/text/_spark_metadata"):
        os.remove(f"{log}/{last}")
        os.remove(f"{log}/.{last}.crc")

    rerun = run_streaming_pipeline(spark, inp, out, opts)
    assert rerun["batches"] == {last: first["batches"][last]}
    assert doc_ids(spark.read.parquet(f"{out}/text")) == want


def test_orphan_part_file_is_invisible(spark, tmp_path):
    """A crash mid-write leaves part files no commit lists: Spark readers
    never see them; a raw glob over the lang directories does."""
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    want = write_files(spark, inp, 20, 2)
    run_streaming_pipeline(spark, inp, out, PipelineOptions(classifier="skip"))
    lang_dir = f"{out}/text/lang=unlabeled"
    part = next(f for f in sorted(os.listdir(lang_dir))
                if f.endswith(".parquet"))
    shutil.copy(f"{lang_dir}/{part}", f"{lang_dir}/part-99999-orphan.parquet")

    assert doc_ids(spark.read.parquet(f"{out}/text")) == want
    assert len(doc_ids(spark.read.parquet(f"{out}/text/lang=*"))) > len(want)


@pytest.mark.parametrize("recent_progress", [None, 1])
def test_record_totals_equal_counters(spark, tmp_path, one_file_per_batch,
                                      recent_progress):
    """The record's six A1 totals equal counters() over the same input,
    also when the query keeps fewer progress updates than it ran
    batches."""
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    spark.createDataFrame(
        [_doc(f"d{i}", [_t(f"<p>the cat and the dog {i}</p>")])
         for i in range(12)]
        + [_doc("empty", [_t("<script>x</script>")]),
           _doc("img", [_t("x")], http_ct="image/png")],
        schema=INPUT_SCHEMA).repartition(4).write.parquet(inp)
    opts = PipelineOptions(classifier="heuristic")
    key = "spark.sql.streaming.numRecentProgressUpdates"
    if recent_progress is not None:
        spark.conf.set(key, recent_progress)
    try:
        rec = run_streaming_pipeline(spark, inp, out, opts)
    finally:
        spark.conf.unset(key)
    assert len(rec["batches"]) == 4
    want = counters(run_pipeline(spark.read.parquet(inp), opts)) \
        .collect()[0].asDict()
    assert {k: rec["totals"][k] for k in A1_KEYS} == want
    assert rec["totals"]["numInputRows"] == 14


def test_streaming_plan_reads_num_partitions(spark, tmp_path):
    """The streaming frame applies PipelineOptions.num_partitions: its
    plan has the salted hashpartitioning Exchange and its rows are the
    batch pipeline's."""
    inp = str(tmp_path / "in")
    write_files(spark, inp, 20, 2)
    opts = PipelineOptions(classifier="heuristic", num_partitions=8)
    q = (streaming_extract(spark, inp, opts).selectExpr("doc_id", "lang",
                                                        "chunk")
         .writeStream.format("memory").queryName("salted_stream_extract")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    plan = (q._jsq.streamingQuery().lastExecution().executedPlan()
            .toString())
    assert "Exchange hashpartitioning" in plan and ", 8)" in plan
    got = sorted(map(tuple, spark.sql(
        "select * from salted_stream_extract").collect()))
    res = run_pipeline(spark.read.parquet(inp), opts)
    want = sorted(map(tuple, demux_by_lang(res.main)
                      .selectExpr("doc_id", "lang", "chunk").collect()))
    assert got == want and len(got) == 20


def test_pure_streaming_extract_matches_batch(spark, tmp_path):
    """The PURE streaming extraction plan (no foreachBatch shim): the
    native filters, the mapInArrow kernel with fused langid, the error
    dispatch and the demux compose directly on the unbounded frame and
    produce EXACTLY the batch pipeline's (doc_id, lang, chunk) rows."""
    inp = str(tmp_path / "pin")
    docs = make_docs(spark, 30)
    docs.repartition(3).write.parquet(inp)
    out = streaming_extract(spark, inp,
                            PipelineOptions(classifier="heuristic"))
    assert out.isStreaming
    q = (out.selectExpr("doc_id", "lang", "chunk")
         .writeStream.format("memory").queryName("pure_stream_extract")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple,
                     spark.sql("select * from pure_stream_extract")
                     .collect()))
    res = run_pipeline(spark.read.parquet(inp),
                       PipelineOptions(classifier="heuristic"))
    want = sorted(map(tuple,
                      demux_by_lang(res.main)
                      .selectExpr("doc_id", "lang", "chunk").collect()))
    assert got == want and len(got) == 30
