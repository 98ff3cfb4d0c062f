"""End-to-end golden test: fixture docs through the full Spark pipeline.

Asserts the per-document invariant: ordered span-sequence equality on
(kind, text, media_ref, order) plus drop decisions (FIXTURES.md).
"""

import pytest
from pyspark.sql import functions as F

from tests.fixture_rows import fixture_df
from warc2text_spark.plans.pipeline import (
    PipelineOptions,
    counters,
    demux_by_lang,
    jsonl_projection,
    run_pipeline,
)


@pytest.fixture(scope="module")
def result(spark):
    df, expected = fixture_df(spark)
    res = run_pipeline(df, PipelineOptions(classifier="skip"))
    rows = res.main.collect()
    return res, rows, expected


def test_span_sequence_equality(result):
    _, rows, expected = result
    got = {r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
           for r in rows}
    kept_expected = {k: v for k, v in expected.items() if v is not None}
    assert set(got) == set(kept_expected)
    for doc_id, spans in kept_expected.items():
        assert got[doc_id] == spans, doc_id


def test_dropped_docs_absent(result):
    _, rows, expected = result
    got_ids = {r.doc_id for r in rows}
    for doc_id, v in expected.items():
        if v is None:
            assert doc_id not in got_ids, doc_id


def test_side_routes(result):
    res, _, _ = result
    robots = [r.doc_id for r in res.robots.collect()]
    pdfs = [r.doc_id for r in res.pdf.collect()]
    assert robots == ["f13-0001"]
    assert pdfs == ["f14-0001"]


def test_skip_classifier_lang_key(result):
    _, rows, _ = result
    for r in rows:
        assert [lc.lang for lc in r.langs] == [""]
        assert r.langs[0].chunk == r.plaintext


def test_counters(result):
    res, rows, expected = result
    c = counters(res).collect()[0]
    kept = sum(1 for v in expected.values() if v is not None)
    assert c.textRecords == kept
    assert c.totalRecords >= kept  # prefiltered includes kernel-dropped docs
    # skip classifier emits lang "" which is not 'unk', so it counts
    # (warcpreprocessor.cc:218-225 only excludes the unknown label)
    assert c.langRecords == c.textRecords
    assert c.langBytes == c.textBytes


def test_demux_and_jsonl(result, spark):
    res, rows, _ = result
    lang_rows = demux_by_lang(res.main)
    assert lang_rows.count() == len(rows)
    js = jsonl_projection(lang_rows).collect()
    assert len(js) == len(rows)
    import json
    obj = json.loads(js[0].jsonl)
    assert list(obj.keys()) == ["f", "o", "s", "rs", "u", "c", "ts", "de", "ps", "p"]


def test_tag_filters_and_invert(spark):
    from tests.fixture_rows import _doc, _t
    from warc2text_spark.sources.fixtures import INPUT_SCHEMA
    rows = [
        _doc("tf-hit", [_t('<html><meta name="translation-stats" content="x">'
                           "<p>machine translated</p></html>")]),
        _doc("tf-miss", [_t('<html><meta name="generator"><p>human</p></html>')]),
    ]
    df = spark.createDataFrame(rows, schema=INPUT_SCHEMA)
    filters = "meta\tname\ttranslation-stats"
    normal = run_pipeline(df, PipelineOptions(
        classifier="skip", tag_filters_text=filters))
    assert [r.doc_id for r in normal.main.collect()] == ["tf-miss"]
    inverted = run_pipeline(df, PipelineOptions(
        classifier="skip", tag_filters_text=filters, tag_filters_invert=True))
    assert [r.doc_id for r in inverted.main.collect()] == ["tf-hit"]


def test_paragraph_identification(spark):
    from tests.fixture_rows import _doc, _t
    from warc2text_spark.sources.fixtures import INPUT_SCHEMA
    df = spark.createDataFrame(
        [_doc("pid-1", [_t("<p>a</p><p>b</p>")])], schema=INPUT_SCHEMA)
    res = run_pipeline(df, PipelineOptions(classifier="skip"))
    rows = demux_by_lang(res.main, paragraph_identification=True).collect()
    assert rows[0].chunk == "a\t1:2\nb\t2:2\n"


def test_no_per_row_python_in_plan(result, spark, tmp_path):
    """The physical plan must contain only Arrow-batched Python stages
    (ArrowEvalPython / MapInArrow), never row-at-a-time BatchEvalPython.

    Over a parquet input with langid on, the plan is one pass: one scan,
    one extraction kernel, the two A1 CollectMetrics nodes (totals below
    the kernel, text totals above it) and no Union of lanes."""
    res, _, _ = result
    plan = res.main._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "MapInArrow" in plan

    df, _ = fixture_df(spark)
    path = str(tmp_path / "spans_plan")
    df.write.parquet(path)
    main = run_pipeline(spark.read.parquet(path),
                        PipelineOptions(classifier="heuristic")).main
    plan = main._jdf.queryExecution().executedPlan().toString()
    shape = {node: plan.count(node) for node in
             ("Scan parquet", "MapInArrow", "CollectMetrics", "Union")}
    assert shape == {"Scan parquet": 1, "MapInArrow": 1,
                     "CollectMetrics": 2, "Union": 0}, plan


def test_write_outputs_observed_counters(spark, tmp_path):
    from warc2text_spark.plans.pipeline import write_outputs
    from tests.fixture_rows import fixture_df
    df, expected = fixture_df(spark)
    res = run_pipeline(df, PipelineOptions(classifier="skip"))
    metrics = write_outputs(res, str(tmp_path / "wo"))
    kept = sum(1 for v in expected.values() if v is not None)
    assert metrics["textRecords"] == kept
    assert metrics["langRecords"] == kept  # skip classifier: 1 chunk/doc
    assert metrics["langBytes"] > 0
    back = spark.read.parquet(str(tmp_path / "wo/text"))
    assert back.count() == kept


def test_write_outputs_excludes_unk_from_lang_counters(spark, tmp_path):
    # warcpreprocessor.cc:219-226: 'unk' chunks are written but excluded
    # from langRecords/langBytes — write_outputs must agree with counters()
    from warc2text_spark.plans.pipeline import write_outputs
    from tests.fixture_rows import _doc, _t
    from warc2text_spark.sources.fixtures import INPUT_SCHEMA
    df = spark.createDataFrame([
        _doc("en-1", [_t("<p>the cat and the dog of the house</p>")]),
        _doc("unk-1", [_t("<p>zzz qqq xxx www</p>")]),
    ], schema=INPUT_SCHEMA)
    res = run_pipeline(df, PipelineOptions(classifier="heuristic"))
    metrics = write_outputs(res, str(tmp_path / "wo_unk"))
    assert metrics["textRecords"] == 2
    assert metrics["langRecords"] == 1  # unk excluded
    c = counters(res).collect()[0]
    assert metrics["langRecords"] == c.langRecords
    assert metrics["langBytes"] == c.langBytes
    # unk rows are still written (the exclusion is counters-only)
    back = spark.read.parquet(str(tmp_path / "wo_unk/text"))
    assert back.filter("lang = 'unk'").count() == 1


def test_write_outputs_paragraph_ids_keep_lang_bytes(spark, tmp_path):
    # paragraph ids are the writer's (bilangwriter.cc:156-169): their
    # \t{i}:{n} tags are written but never counted in langBytes
    from warc2text_spark.plans.pipeline import write_outputs
    from tests.fixture_rows import fixture_df
    df, _ = fixture_df(spark)
    res = run_pipeline(df, PipelineOptions(classifier="heuristic",
                                           paragraph_identification=True))
    metrics = write_outputs(res, str(tmp_path / "wo_pid"))
    c = counters(res).collect()[0]
    assert metrics["langBytes"] == c.langBytes
    assert metrics == c.asDict()
    back = spark.read.parquet(str(tmp_path / "wo_pid/text"))
    assert back.filter(F.col("chunk").contains("\t1:")).count() > 0


def test_counters_single_pass_uses_observations(spark):
    # total/text aggregates must come from the CollectMetrics nodes riding
    # the one lang-aggregate job — not from separate actions re-scanning
    # prefiltered/main: counters() costs exactly the jobs of that one
    # aggregate action over a run_pipeline plan (collecting its one-row
    # local result is a job of its own, counted apart).
    from warc2text_spark.operators.filters import split_stream
    from tests.fixture_rows import fixture_df
    df, expected = fixture_df(spark)
    tracker = spark.sparkContext.statusTracker()

    def jobs_of(fn):
        before = max(tracker.getJobIdsForGroup(None), default=-1)
        out = fn()
        return out, max(tracker.getJobIdsForGroup(None), default=-1) - before

    res = run_pipeline(df, PipelineOptions(classifier="skip"))
    c, counter_jobs = jobs_of(lambda: counters(res))
    c = c.collect()[0]
    _, one_action_jobs = jobs_of(lambda: demux_by_lang(run_pipeline(
        df, PipelineOptions(classifier="skip")).main).agg(
            F.count(F.lit(1))).collect())
    assert counter_jobs == one_action_jobs
    kept = sum(1 for v in expected.values() if v is not None)
    assert c.textRecords == kept
    # one CollectMetrics below the one kernel: exactly the post-F1-F9 rows
    assert c.totalRecords == split_stream(df)[0].count()
    assert c.langRecords == c.textRecords


def test_counters_releases_persisted_frames(spark):
    from tests.fixture_rows import fixture_df
    df, _ = fixture_df(spark)
    res = run_pipeline(df, PipelineOptions(classifier="skip"))
    before = dict(spark.sparkContext._jsc.getPersistentRDDs())
    counters(res).collect()
    after = dict(spark.sparkContext._jsc.getPersistentRDDs())
    assert len(after) <= len(before)  # no cached partitions left behind


def _tree_nodes(tree):
    """Every node of a Catalyst tree (plan or expression), depth first."""
    stack = [tree]
    while stack:
        node = stack.pop()
        yield node
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))


def test_each_route_predicate_written_once(spark, tmp_path):
    # each split_stream route states its own terms, so the executed main
    # Filter holds the spans aggregate (the payload byte count) only in
    # its F1/F2/F8 bounds; negating the robots and PDF predicates, which
    # hold the F1/F2 bounds, would copy it in again.  Nodes are counted in
    # the condition tree, not in the plan string, which Spark may truncate.
    from warc2text_spark.operators.filters import split_stream
    df, _ = fixture_df(spark)
    path = str(tmp_path / "spans_routes")
    df.write.parquet(path)
    main, robots, pdf = split_stream(spark.read.parquet(path))
    assert [main.count(), robots.count(), pdf.count()] == [19, 1, 1]
    plan = main._jdf.queryExecution().executedPlan()
    aggs = [sum(e.getClass().getSimpleName() == "ArrayAggregate"
                for e in _tree_nodes(node.condition()))
            for node in _tree_nodes(plan)
            if node.getClass().getSimpleName() == "FilterExec"]
    assert aggs and sum(aggs) <= 3, aggs


def test_filter_pushdown_reaches_parquet_scan(spark, tmp_path):
    # F4/F6 must land in the parquet scan's PushedFilters (row-group
    # skipping at scale); wrapping the attributes in lower()/coalesce()
    # would silently pin them above the scan
    from warc2text_spark.operators.filters import split_stream
    from tests.fixture_rows import fixture_df
    df, _ = fixture_df(spark)
    path = str(tmp_path / "spans_pd")
    df.write.parquet(path)
    main, _, _ = split_stream(spark.read.parquet(path))
    plan = main._jdf.queryExecution().executedPlan().toString()
    pushed = plan[plan.find("PushedFilters"):].split("ReadSchema", 1)[0]
    assert "In(warc_type" in pushed, pushed
    assert "StringContains(warc_ct" in pushed, pushed


def test_case_insensitive_headers_option(spark):
    # the default (pushable) F4/F6 assume the lower-cased header contract;
    # --case-insensitive-headers restores tolerant matching for tables
    # that don't honor it
    from tests.fixture_rows import _doc, _t
    from warc2text_spark.sources.fixtures import INPUT_SCHEMA
    df = spark.createDataFrame(
        [_doc("mixed", [_t("<p>the cat and the dog</p>")],
              warc_type="Response",
              warc_ct="Application/HTTP; msgtype=response")],
        schema=INPUT_SCHEMA)
    strict = run_pipeline(df, PipelineOptions(classifier="skip"))
    assert strict.main.count() == 0  # contract violation: dropped
    tolerant = run_pipeline(df, PipelineOptions(
        classifier="skip", case_insensitive_headers=True))
    assert tolerant.main.count() == 1
