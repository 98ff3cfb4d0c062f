"""Corpus-cleaning operators: cross-document boilerplate-line removal and
PII redaction (CCNet-/pretraining-hygiene-shaped; oracle twins in
plans/benchqueries.py)."""

from pyspark.sql import functions as F

from warc2text_spark.operators import textops


def test_remove_boilerplate_lines(spark):
    docs = spark.createDataFrame([
        (1, "COOKIE BANNER\nunique body one\nFOOTER"),
        (2, "COOKIE BANNER\nunique body two\nFOOTER"),
        (3, "COOKIE BANNER\nFOOTER"),              # fully boilerplate
        (4, "standalone page with its own text"),  # untouched
    ], "doc_id long, text string")
    out = {r.doc_id: r.clean_text
           for r in textops.remove_boilerplate(docs, min_docs=2).collect()}
    assert out == {
        "1": "unique body one",
        "2": "unique body two",
        "3": "",  # every line was boilerplate; the doc survives as empty
        "4": "standalone page with its own text",
    }
    # threshold respected: min_docs=4 keeps everything (max line count is 3)
    out4 = {r.doc_id: r.clean_text
            for r in textops.remove_boilerplate(docs, min_docs=4).collect()}
    assert out4["1"] == "COOKIE BANNER\nunique body one\nFOOTER"


def test_boilerplate_lines_counts(spark):
    docs = spark.createDataFrame([
        (1, "a\nb"), (2, "a\nc"), (3, "a\nb"),
    ], "doc_id long, text string")
    got = {r.line: r.n_docs
           for r in textops.boilerplate_lines(docs, min_docs=2).collect()}
    assert got == {"a": 3, "b": 2}


def test_redact_pii(spark):
    docs = spark.createDataFrame([
        (1, "mail me at a.b+c@x-mail.co.uk or call +44 (0) 1234 5678 now"),
        (2, "no pii here at all"),
        (3, "two mails x@y.io and z@w.dev"),
    ], "doc_id long, text string")
    rows = {r.doc_id: r for r in textops.redact_pii(docs).collect()}
    assert rows["1"].clean_text == "mail me at <EMAIL> or call <PHONE> now"
    assert rows["2"].clean_text == "no pii here at all"
    assert rows["2"].bytes_removed == 0
    assert rows["3"].clean_text == "two mails <EMAIL> and <EMAIL>"
    assert rows["1"].bytes_removed > 0


def test_remove_boilerplate_plan_broadcasts_when_small(spark):
    # default "auto": no forced hint — the genuinely-small dup-line set
    # still ends up broadcast AT RUNTIME (AQE measures the build side),
    # so the fast path is kept.  The initial (pre-execution) plan may be
    # SMJ (stats unknown); the claim is about the final adaptive plan.
    docs = spark.createDataFrame(
        [(i, f"HDR\nbody {i}") for i in range(10)], "doc_id long, text string")
    df = textops.remove_boilerplate(docs)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, final  # dup-line set is the build side


def test_canonical_url_rules(spark):
    from warc2text_spark.operators.textops import canonical_url
    cases = [
        ("https://EX.Example/Path#frag", "https://ex.example/Path"),
        ("https://ex.example:443/a", "https://ex.example/a"),
        ("http://ex.example:80/a", "http://ex.example/a"),
        ("https://ex.example:8443/a", "https://ex.example:8443/a"),
        ("https://ex.example/a/", "https://ex.example/a"),
        ("https://ex.example/a/?q=1", "https://ex.example/a/?q=1"),
        ("https://ex.example/", "https://ex.example/"),  # root kept
        ("HTTPS://EX.example/P?Q=Mixed", "https://ex.example/P?Q=Mixed"),
        ("no-scheme-at-all", "no-scheme-at-all"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_url_dedup_keeps_first_per_canonical(spark):
    from warc2text_spark.operators.textops import url_dedup
    docs = spark.createDataFrame([
        (1, "https://A.example/x#f"),
        (2, "https://a.example/x"),      # same canonical as 1
        (3, "https://a.example:443/x"),  # same again
        (4, "https://b.example/y"),
    ], "doc_id long, url string")
    got = {(r.doc_id, r.canon_url) for r in url_dedup(docs).collect()}
    assert got == {("1", "https://a.example/x"), ("4", "https://b.example/y")}
    # keep-first is a map-side-combinable aggregate, not a window — a
    # viral canonical URL must not pin the dedup to one sorting task
    # (min over a string buffer plans as SortAggregate; partial_min is the
    # map-side combine that collapses a viral key before the shuffle)
    plan = url_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan and "Window" not in plan, plan


def test_winnow_kernel_matches_expression_twin(spark):
    import random

    from tests.twins import winnow_fingerprints_expr
    from warc2text_spark.operators.textops import winnow_fingerprints
    rng = random.Random(5)
    pieces = ["abcdef", "x", "", "the quick brown fox", "été déjà",
              "aaaaaaaaaa", "ab", "0123456789"]
    rows = [(i, "".join(rng.choice(pieces) for _ in range(rng.randint(0, 4))))
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fast = sorted((r.doc_id, r.fp)
                  for r in winnow_fingerprints(docs).collect())
    slow = sorted((r.doc_id, r.fp)
                  for r in winnow_fingerprints_expr(docs).collect())
    assert fast == slow


def test_winnow_shared_fingerprints_on_overlap(spark):
    # the winnowing guarantee: documents sharing a substring of length
    # >= w + k - 1 (= 8) share at least one fingerprint
    from warc2text_spark.operators.textops import winnow_fingerprints
    shared = "COMMONSTRETCH"  # len 13 >= 8
    docs = spark.createDataFrame([
        (1, "left padding " + shared + " right"),
        (2, "entirely different prefix " + shared),
        (3, "no overlap here at all whatsoever"),
    ], "doc_id long, text string")
    fps = {}
    for r in winnow_fingerprints(docs).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps["1"] & fps["2"]
    assert not (fps["1"] & fps["2"] & fps["3"])


def test_pack_sequences_prefix_sum_invariants(spark):
    """Concat-and-chunk packing: offsets are the exact global prefix sum
    over numeric doc_id order regardless of bucket partitioning (the
    two-phase distributed prefix sum equals the single-pass answer), and
    the chunk coordinates are consistent arithmetic."""
    import random
    rng = random.Random(23)
    rows = [(i, " ".join("w" * 1 for _ in range(rng.randint(1, 9))))
            for i in range(37)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    small = {r.doc_id: r for r in
             textops.pack_sequences(docs, window=8, bucket_size=4)
             .collect()}
    big = {r.doc_id: r for r in
           textops.pack_sequences(docs, window=8, bucket_size=1 << 20)
           .collect()}
    assert {k: tuple(v) for k, v in small.items()} \
        == {k: tuple(v) for k, v in big.items()}
    run = 0
    for i in range(37):
        r = small[str(i)]
        assert r.start_offset == run
        assert r.chunk_id == run // 8 and r.chunk_offset == run % 8
        run += r.n_tokens
    # phase-1 window is bucket-partitioned (no full-data single-partition
    # sort); only the tiny per-bucket-totals window is global
    plan = textops.pack_sequences(docs, bucket_size=4) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "_bucket" in plan


def test_paragraph_dedup_ccnet_normalized_keys(spark):
    """normalize='ccnet': case/digit/punct/accent variants of a
    paragraph dedup together (keep-first, original text preserved);
    punct-only separator lines are exempt like blanks; default mode
    still treats variants as distinct."""
    rows = [("1", "Visit Café No. 42!\nunique one\n- - -"),
            ("2", "visit cafe no 17\nunique two\n***"),
            ("3", "VISIT CAFE NO 99\n***")]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r.doc_id: r for r in
           textops.paragraph_dedup(docs, normalize="ccnet").collect()}
    # "- - -" normalizes to whitespace-only: exempt layout, kept even
    # though "***" elsewhere normalizes to "" too (no cross-collision)
    assert out["1"].clean_text == "Visit Café No. 42!\nunique one\n- - -"
    assert out["2"].clean_text == "unique two\n***"   # variant removed
    assert out["3"].clean_text == "***"               # separator kept
    assert (out["1"].n_removed, out["2"].n_removed,
            out["3"].n_removed) == (0, 1, 1)
    raw = {r.doc_id: r for r in textops.paragraph_dedup(docs).collect()}
    # default mode: the case/accent variants stay distinct, but the
    # raw-identical "***" line is a real duplicate (doc 2 wins) —
    # only the ccnet mode exempts it as normalized-empty layout
    assert raw["2"].clean_text == "visit cafe no 17\nunique two\n***"
    assert raw["3"].clean_text == "VISIT CAFE NO 99"
    assert raw["2"].n_removed == 0 and raw["3"].n_removed == 1
