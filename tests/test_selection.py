"""Selection operators: decontamination, unigram surprisal, stratified
sampling — semantics beyond the driver-oracle parity rows."""

import pytest

from warc2text_spark.operators.selection import (
    decontaminate, sample_stratified, unigram_surprisal)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("1", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ("2", "one two three four five six seven eight nine ten"),
        # shares the full 8-gram prefix of doc 1
        ("3", "alpha beta gamma delta epsilon zeta eta theta other words"),
        # shorter than n=8 tokens: can never be contaminated
        ("4", "alpha beta gamma"),
        ("5", "completely different sentence with unrelated content here "
              "today again"),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_decontaminate_drops_ngram_hits(docs):
    bench = docs.filter("doc_id = '1'")
    kept = {r["doc_id"] for r in decontaminate(docs, bench).collect()}
    # 1 contains itself, 3 shares an 8-gram with it; 2/4/5 survive
    assert kept == {"2", "4", "5"}


def test_decontaminate_short_benchmark_is_noop(docs):
    bench = docs.filter("doc_id = '4'")  # < 8 tokens -> no n-grams
    kept = {r["doc_id"] for r in decontaminate(docs, bench).collect()}
    assert kept == {"1", "2", "3", "4", "5"}


def test_surprisal_orders_common_below_rare(spark):
    rows = [("c", "the the the the the the the the"),
            ("r", "zyzzyva qoph xylyl vexil wyvern kexes jnana fjeld")]
    base = spark.createDataFrame(
        [("b%d" % i, "the quick brown fox jumps over lazy dogs")
         for i in range(20)] + rows, "doc_id string, text string")
    out = {r["doc_id"]: r for r in unigram_surprisal(base).collect()}
    assert out["c"]["n_tokens"] == 8
    # all-common text is less surprising than all-hapax text
    assert out["c"]["surprisal"] < out["r"]["surprisal"]


def test_sample_stratified_deterministic_and_salted(spark):
    rows = [(str(i), "en" if i % 2 else "de") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id string, lang string")
    a = {r["doc_id"] for r in sample_stratified(df, "lang", 20).collect()}
    b = {r["doc_id"] for r in sample_stratified(df, "lang", 20).collect()}
    assert a == b and 0 < len(a) < 400          # deterministic, non-trivial
    wider = {r["doc_id"]
             for r in sample_stratified(df, "lang", 60).collect()}
    assert a <= wider                            # thresholds nest
    other = {r["doc_id"]
             for r in sample_stratified(df, "lang", 20, salt="x").collect()}
    assert other != a                            # independent draw per salt


def test_semdedup_removes_clones_keeps_min_id(spark):
    from warc2text_spark.operators.dedup import semdedup
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (101, [2.0, 0.0, 0.0]),   # same direction as 1 -> cosine 1.0
        (102, [0.0, 0.0, 1.0]),   # orthogonal to everything
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    res = semdedup(df, cents, 0.95)
    out = {r["vec_id"]: r for r in res.collect()}
    from warc2text_spark.operators.dedup import release_intermediates
    release_intermediates(res)  # default materialize="cache" must release
    assert out[1]["kept"] and not out[101]["kept"]      # min id wins
    assert out[1]["cluster"] == out[101]["cluster"] == 0
    assert out[2]["kept"] and out[102]["kept"]          # no near-dup


def test_substring_dedup_clone_ratio(spark):
    from warc2text_spark.operators.textops import substring_dedup
    rows = [("1", "the quick brown fox jumps over the lazy dog again today"),
            ("2", "completely different words appear in this one sentence"),
            ("clone1", "the quick brown fox jumps over the lazy dog again today")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r for r in substring_dedup(df).collect()}
    assert out["1"]["dup_ratio"] == 1.0 and out["clone1"]["dup_ratio"] == 1.0
    assert out["2"]["dup_ratio"] == 0.0
    assert out["1"]["n_fp"] == out["clone1"]["n_fp"]


def test_bpe_pair_counts_weighted(spark):
    from warc2text_spark.operators.textops import bpe_pair_counts
    # 'ab ab cd' -> pair 'a b</w>' count 2, 'c d</w>' count 1
    df = spark.createDataFrame([("x", "ab ab cd")], "doc_id string, text string")
    out = {r["pair"]: r["n"] for r in bpe_pair_counts(df).collect()}
    assert out == {"a b</w>": 2, "c d</w>": 1}


def test_bitext_candidates_url_alignment(spark):
    from warc2text_spark.operators.align import bitext_candidates
    rows = [
        ("1", "en", "https://site.example/en/about.html"),
        ("2", "fr", "https://site.example/fr/about.html"),
        ("3", "pt", "https://site.example/pt-br/about.html"),
        ("4", "en", "https://other.example/en/about.html"),   # different host
        ("5", "en", "https://site.example/en/contact.html"),  # different page
    ]
    df = spark.createDataFrame(rows, "doc_id string, lang string, url string")
    pairs = {(r["a_id"], r["b_id"]) for r in bitext_candidates(df).collect()}
    assert pairs == {("1", "2"), ("1", "3"), ("2", "3")}


def test_paragraph_dedup_keep_first(spark):
    from warc2text_spark.operators.textops import paragraph_dedup
    rows = [("a", "SHARED\nunique-a\ntail"),
            ("b", "SHARED\nunique-b\ntail"),
            ("c", "only fresh lines\nhere")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    # 'a' is the string-min doc: keeps SHARED and tail
    assert out["a"]["clean_text"] == "SHARED\nunique-a\ntail"
    assert out["a"]["n_removed"] == 0
    # 'b' loses both duplicated paragraphs but keeps its unique one
    assert out["b"]["clean_text"] == "unique-b"
    assert out["b"]["n_removed"] == 2
    assert out["c"]["clean_text"] == "only fresh lines\nhere"


def test_surprisal_ascii_tokenizer_matches_model(spark):
    """Non-ASCII whitespace (U+00A0 via &nbsp;) must NOT split tokens in
    the scoring kernel: the model/oracle tokenizer is Java/RE2 \\s+
    (ASCII-only) — code-review r4 regression."""
    import math
    rows = [("1", "foo bar baz"), ("2", "foo bar qux")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    from warc2text_spark.operators.selection import unigram_surprisal
    out = {r["doc_id"]: r for r in unigram_surprisal(df).collect()}
    # 'foo\xa0bar' is ONE token on both sides (appears twice in the model)
    assert out["1"]["n_tokens"] == 2
    denom = math.log(4 + 3 + 1)  # T=4 tokens, V=3 types, +1
    exp = round(denom - (math.log(2 + 1) + math.log(1 + 1)) / 2, 6)
    assert abs(out["1"]["surprisal"] - exp) < 1e-9


def test_jpeg_fill_bytes_before_marker():
    """ITU T.81 B.1.1.2 fill bytes (extra 0xFF before a marker) must not
    reject the header — code-review r4 regression."""
    import struct
    from warc2text_spark.operators.multimodal import parse_image_header
    sof0 = struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 45, 123) \
        + b"\x01\x01\x11\x00"
    assert parse_image_header(b"\xff\xd8\xff\xff\xff\xc0" + sof0) == (123, 45)
    assert parse_image_header(b"\xff\xd8\xff\xc0" + sof0) == (123, 45)


def test_counters_fresh_after_partial_scan(spark):
    """An Observation is one-shot: a partial action (limit) before
    counters() must not poison the metrics — code-review r4 regression —
    and counters() on that spent result costs the same jobs as on a
    fresh one (it always observes a plan of its own, no recompute)."""
    from warc2text_spark.plans.pipeline import (PipelineOptions, counters,
                                                run_pipeline)
    from warc2text_spark.plans.spansgen import build_spans
    tracker = spark.sparkContext.statusTracker()

    def jobs_of(fn):
        before = max(tracker.getJobIdsForGroup(None), default=-1)
        out = fn()
        return out, max(tracker.getJobIdsForGroup(None), default=-1) - before

    res, fresh = (run_pipeline(build_spans(spark, "/root/testdata/sf0.001"),
                               PipelineOptions(classifier="skip"))
                  for _ in range(2))
    baseline, fresh_jobs = jobs_of(lambda: counters(fresh).collect()[0])
    res.main.limit(1).collect()  # partial scan consumes the observations
    got, spent_jobs = jobs_of(lambda: counters(res).collect()[0])
    assert got.asDict() == baseline.asDict()
    assert spent_jobs == fresh_jobs


def test_surprisal_native_matches_loop_twin(spark):
    """The native scorer (JVM explode + broadcast ln-table join) must
    reproduce the per-token loop twin bit-for-bit after the round(x, 6)
    contract — including OOV tokens, non-ASCII whitespace inside tokens,
    runs of separators, and token-free documents (excluded by both)."""
    import math
    import random

    from tests.twins import surprisal_loop_kernel
    from warc2text_spark.operators.selection import unigram_frequencies
    rng = random.Random(11)
    words = ["the", "fox", "zyzzyva", "foo\xa0bar", "a", "", "é1"]
    rows = []
    for i in range(120):
        text = " ".join(rng.choice(words) for _ in range(rng.randint(0, 30)))
        if i % 17 == 0:
            text = "   \t " if i % 2 else ""
        rows.append((str(i), text))
    df = spark.createDataFrame(rows, "doc_id string, text string")
    native = sorted(map(tuple, unigram_surprisal(df).collect()))
    # the twin runs in the driver on collected rows: test modules are not
    # shipped to Python workers
    freq = {r["w"]: r["c"] for r in unigram_frequencies(df).collect()}
    denom_ln = math.log(sum(freq.values()) + len(freq) + 1)
    loop = surprisal_loop_kernel(df.toPandas(), freq, denom_ln,
                                 "doc_id", "text")
    slow = sorted((d, int(n), float(x))
                  for d, n, x in loop.itertuples(index=False))
    assert native == slow and len(native) > 50
    # the default kernel stays entirely JVM-side: no Python crossing
    plan = unigram_surprisal(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "InPandas" not in plan and "BatchEvalPython" not in plan


def test_global_shuffle_matches_single_pass_rank(spark):
    """shuffle_pos is the exact global md5-order rank: bucket-count
    invariant (two-phase prefix count == single-pass answer), a
    permutation of 0..n-1, deterministic, and salt-independent draws."""
    import hashlib
    from warc2text_spark.operators.selection import global_shuffle
    rows = [(str(i), "x") for i in range(123)]
    df = spark.createDataFrame(rows, "doc_id string, lang string")
    small = {r.doc_id: r.shuffle_pos
             for r in global_shuffle(df, buckets=7).collect()}
    big = {r.doc_id: r.shuffle_pos
           for r in global_shuffle(df, buckets=1 << 20).collect()}
    assert small == big
    # python twin: rank by (leading-60-bit md5, key)
    def k(d):
        return int(hashlib.md5(f"{d}:s5".encode()).hexdigest()[:15], 16)
    expect = {d: p for p, (_, _, d) in enumerate(
        sorted((k(d), d, d) for d, _ in rows))}
    assert small == expect
    assert sorted(small.values()) == list(range(123))
    other = {r.doc_id: r.shuffle_pos
             for r in global_shuffle(df, salt="epoch2").collect()}
    assert other != small and sorted(other.values()) == list(range(123))


def test_ccnet_buckets_exact_ntile_and_cell_invariance(spark):
    """ppl_bucket matches exact SQL NTILE semantics (first n%t tiles get
    the extra row, ties broken by id) for every language including
    n < tiles, and is invariant to the score-grid granularity."""
    import random
    from warc2text_spark.operators.selection import ccnet_buckets
    rng = random.Random(31)
    rows = []
    for lang, n in [("en", 47), ("de", 12), ("xx", 2), ("yy", 3)]:
        for i in range(n):
            rows.append((f"{lang}{i:03d}", lang,
                         round(rng.uniform(0.0, 12.0), 6)))
    # a tie block: same score, bucket order must follow doc_id
    rows += [(f"tie{i}", "en", 5.5) for i in range(4)]
    df = spark.createDataFrame(
        rows, "doc_id string, lang string, surprisal double")
    got = {r.doc_id: r.ppl_bucket
           for r in ccnet_buckets(df).collect()}
    coarse = {r.doc_id: r.ppl_bucket
              for r in ccnet_buckets(df, cells_per_nat=1).collect()}
    assert got == coarse
    # python NTILE twin
    from collections import defaultdict
    by_lang = defaultdict(list)
    for d, lang, s in rows:
        by_lang[lang].append((s, d))
    expect = {}
    for lang, docs in by_lang.items():
        docs.sort()
        n, t = len(docs), 3
        q, r = divmod(n, t)
        for rank, (_, d) in enumerate(docs, start=1):
            if rank <= r * (q + 1):
                expect[d] = (rank - 1) // (q + 1) + 1
            else:
                expect[d] = r + (rank - r * (q + 1) - 1) // max(q, 1) + 1
    assert got == expect
    plan = ccnet_buckets(df)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "_cell" in plan


def test_mixing_weights_alpha_semantics(spark):
    """alpha=1 recovers natural frequencies, alpha=0 uniform; weights
    sum to 1; small strata get boost > 1 under alpha < 1."""
    from warc2text_spark.operators.selection import mixing_weights
    rows = [("d%d" % i, "en" if i < 90 else "mi", 100) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id string, lang string, n_chars int")
    w = {r.lang: r for r in mixing_weights(df, "lang", "n_chars",
                                           alpha=0.3).collect()}
    assert abs(w["en"].mix_weight + w["mi"].mix_weight - 1.0) < 1e-5
    assert w["mi"].mix_boost > 1.0 > w["en"].mix_boost
    nat = {r.lang: r for r in mixing_weights(df, "lang", "n_chars",
                                             alpha=1.0).collect()}
    assert abs(nat["en"].mix_weight - 0.9) < 1e-6
    assert abs(nat["en"].mix_boost - 1.0) < 1e-6
    uni = {r.lang: r for r in mixing_weights(df, "lang",
                                             alpha=0.0).collect()}
    assert abs(uni["en"].mix_weight - 0.5) < 1e-6


def test_mixing_weights_zero_mass_stratum_no_nulls(spark):
    from warc2text_spark.operators.selection import mixing_weights
    rows = [("1", "en", 10), ("2", "zz", 0), ("3", "zz", 0)]
    df = spark.createDataFrame(rows, "doc_id string, lang string, n_chars int")
    w = {r.lang: r for r in mixing_weights(df, "lang", "n_chars").collect()}
    assert w["zz"].mix_weight == 0.0 and w["zz"].mix_boost == 0.0
    assert w["en"].mix_weight == 1.0
    assert all(v is not None for r in w.values() for v in r)


def test_bigram_surprisal_matches_python_twin(spark):
    """Native bigram scorer vs a direct Python computation of
    mean(ln(c1+V+1) - ln(c12+1)); fluent repeated transitions score
    below a shuffled permutation of the same tokens."""
    import math
    from collections import Counter
    from warc2text_spark.operators.selection import bigram_surprisal
    rows = [("1", "the cat sat on the mat"),
            ("2", "the cat sat on the mat again"),
            ("3", "mat the on sat cat the"),       # shuffled doc 1
            ("4", "solo"),                          # 1 token: no bigrams
            ("5", "the cat")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r.doc_id: r for r in bigram_surprisal(df).collect()}
    uni = Counter(w for _, t in rows for w in t.split())
    big = Counter(" ".join(p) for _, t in rows
                  for p in zip(t.split(), t.split()[1:]))
    v = len(uni)
    for did, t in rows:
        ws = t.split()
        if len(ws) < 2:
            assert did not in out
            continue
        terms = [math.log(uni[a] + v + 1) - math.log(big[f"{a} {b}"] + 1)
                 for a, b in zip(ws, ws[1:])]
        assert out[did].n_bigrams == len(terms)
        assert abs(out[did].surprisal2
                   - round(sum(terms) / len(terms), 6)) < 1e-9, did
    assert out["1"].surprisal2 < out["3"].surprisal2


def test_bigram_surprisal_plan_is_native_broadcast(spark):
    """The bigram scorer's physical plan stays JVM-side: broadcast hash
    joins against the two local ln-tables, no Python evaluation."""
    from warc2text_spark.operators.selection import bigram_surprisal
    df = spark.createDataFrame(
        [("1", "a b c"), ("2", "b c d")], "doc_id string, text string")
    plan = bigram_surprisal(df)._jdf.queryExecution().executedPlan() \
        .toString()
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_kn_trigram_matches_python_reference(spark):
    """Interpolated Kneser-Ney trigram scorer vs a direct Python
    implementation of the Chen-Goodman equations over the same head
    tables; fluent repeated transitions score below a shuffled
    permutation of the same tokens; < 3 tokens -> no row."""
    import math
    from collections import Counter
    from warc2text_spark.operators.selection import kn_trigram_surprisal
    rows = [("1", "the cat sat on the mat"),
            ("2", "the cat sat on the mat again and again"),
            ("3", "mat the on sat cat the"),        # shuffled doc 1
            ("4", "two words"),                      # no trigrams
            ("5", "the cat sat")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r.doc_id: r for r in kn_trigram_surprisal(df).collect()}

    toks = {d: t.split() for d, t in rows}
    uni = Counter(w for ws in toks.values() for w in ws)
    big = Counter(" ".join(p) for ws in toks.values()
                  for p in zip(ws, ws[1:]))
    tri = Counter(" ".join(p) for ws in toks.values()
                  for p in zip(ws, ws[1:], ws[2:]))
    v, nbi, d0 = len(uni), len(big), 0.75
    denom_pc = nbi + 0.5 * (v + 1)
    n1p2 = Counter(g.split()[0] for g in big)
    cont3 = Counter(g.split()[1] for g in big)
    n1p12 = Counter(g.rsplit(" ", 1)[0] for g in tri)

    def p_kn(w1, w2, w3):
        pc = (cont3[w3] + 0.5) / denom_pc
        if uni[w2] > 0 and n1p2[w2] > 0:
            p2 = (max(big[f"{w2} {w3}"] - d0, 0.0)
                  + d0 * n1p2[w2] * pc) / uni[w2]
        else:
            p2 = pc
        if big[f"{w1} {w2}"] > 0 and n1p12[f"{w1} {w2}"] > 0:
            return (max(tri[f"{w1} {w2} {w3}"] - d0, 0.0)
                    + d0 * n1p12[f"{w1} {w2}"] * p2) / big[f"{w1} {w2}"]
        return p2

    for did, ws in toks.items():
        if len(ws) < 3:
            assert did not in out
            continue
        terms = [-math.log(p_kn(a, b, c))
                 for a, b, c in zip(ws, ws[1:], ws[2:])]
        assert out[did].n_trigrams == len(terms)
        assert abs(out[did].surprisal3
                   - round(sum(terms) / len(terms), 6)) < 1e-9, did
    assert out["1"].surprisal3 < out["3"].surprisal3
    # probabilities are proper: every term positive (p < 1 after the
    # +0.5 floor on this corpus), so surprisal3 > 0
    assert all(r.surprisal3 > 0 for r in out.values())


def test_kn_trigram_plan_is_native_broadcast(spark):
    """The KN scorer stays JVM-side: no Python evaluation in the plan,
    all five head-table joins broadcast."""
    from warc2text_spark.operators.selection import kn_trigram_surprisal
    df = spark.createDataFrame(
        [(str(i), "a b c d e f g") for i in range(10)],
        "doc_id string, text string")
    plan = kn_trigram_surprisal(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("BroadcastHashJoin") >= 5


def test_dsir_weights_match_python_reference(spark):
    """DSIR log importance weights vs a direct Python implementation of
    the hashed-ngram ln-ratio model; docs resembling the target corpus
    outrank dissimilar docs."""
    import hashlib
    import math
    rows = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "the fast brown fox runs over the happy dog"),
            (3, "completamente otro idioma y otras palabras aqui"),
            (4, "zzz qqq vvv kkk www"),
            (5, "")]
    tgt_ids = {1}
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = docs.filter("doc_id = 1")
    from warc2text_spark.operators.selection import dsir_logweights
    out = {r.doc_id: r for r in
           dsir_logweights(docs, target, n_buckets=1000).collect()}

    def bkt(ng):
        return int(hashlib.md5(ng.encode()).hexdigest()[:8], 16) % 1000

    def grams(t):
        ws = t.split()
        return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]

    from collections import Counter
    raw = Counter(bkt(g) for _, t in rows for g in grams(t))
    tgt = Counter(bkt(g) for i, t in rows if i in tgt_ids
                  for g in grams(t))
    tr = sum(raw.values()) + 0.5 * 1000
    tt = sum(tgt.values()) + 0.5 * 1000
    for did, text in rows:
        gs = grams(text)
        if not gs:
            assert out[did].n_grams == 0 and out[did].dsir_logw == 0.0
            continue
        w = sum(math.log((tgt.get(bkt(g), 0) + 0.5) / tt)
                - math.log((raw.get(bkt(g), 0) + 0.5) / tr) for g in gs)
        assert out[did].n_grams == len(gs)
        assert abs(out[did].dsir_logw - round(w, 6)) < 1e-9, did
    # target-like doc 2 outranks off-target 3 and gibberish 4 (per-gram,
    # normalizing out length)
    assert out[2].dsir_logw / out[2].n_grams \
        > out[3].dsir_logw / out[3].n_grams
    assert out[2].dsir_logw / out[2].n_grams \
        > out[4].dsir_logw / out[4].n_grams


def test_const_double_array_exact(spark):
    """_const_double_array (the one-py4j-call literal used by the
    classifier/DSIR weight tables) must round-trip every double
    bit-exactly through the SQL parser, including negative zero and
    scientific-notation extremes."""
    import random
    import struct

    from warc2text_spark.operators.selection import _const_double_array
    random.seed(7)
    vals = ([0.0, -0.0, 1.5, -2.25, 1e-05, -3.5e-300, 6.02e23,
             0.1 + 0.2] +
            [random.uniform(-1, 1) for _ in range(200)])
    got = spark.range(1).select(
        _const_double_array(vals).alias("a")).collect()[0].a
    assert len(got) == len(vals)
    for v, g in zip(vals, got):
        assert struct.pack("d", v) == struct.pack("d", g), (v, g)


def test_dsir_fold_matches_joined_twin(spark):
    """The r7 fold projection of the DSIR scoring pass must reproduce
    the r6 explode+broadcast-join shape bit-for-bit (same doubles: same
    fold order, same lam0 default for unseen buckets)."""
    from tests.twins import dsir_logweights_joined
    from warc2text_spark.operators.selection import dsir_logweights
    rows = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "the fast brown fox runs over the happy dog"),
            (3, "completamente otro idioma y otras palabras aqui"),
            (4, "zzz qqq vvv kkk www"),
            (5, ""),
            (6, "a  b   c \t d")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = docs.filter("doc_id = 1")
    fold = {r.doc_id: (r.n_grams, r.dsir_logw)
            for r in dsir_logweights(docs, target, n_buckets=1000).collect()}
    joined = {r.doc_id: (r.n_grams, r.dsir_logw)
              for r in dsir_logweights_joined(
                  docs, target, n_buckets=1000).collect()}
    assert fold == joined


def test_dsir_resample_gumbel_topk(spark):
    """Gumbel-top-k resampling: deterministic across runs, exactly
    ceil(frac*n) rows, independent draws under different salts, and the
    scale path (two-phase rank) agrees with a single-pass window rank."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from warc2text_spark.operators.selection import (dsir_logweights,
                                                     dsir_resample)
    docs = spark.createDataFrame(
        [(i, ("common words here " * (1 + i % 3)).strip()) for i in range(50)],
        "doc_id long, text string")
    w = dsir_logweights(docs, docs.filter("doc_id < 5"), n_buckets=100)
    a = sorted(r.doc_id for r in dsir_resample(w, frac=0.2).collect())
    b = sorted(r.doc_id for r in dsir_resample(w, frac=0.2).collect())
    assert a == b and len(a) == 10
    c = sorted(r.doc_id for r in dsir_resample(w, frac=0.2,
                                               salt="g2").collect())
    assert len(c) == 10 and c != a  # independent draw
    # single-pass rank twin
    v = F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.col("doc_id").cast("string"), F.lit("g1"))), 1, 8),
        16, 10).cast("long")
    u = (v + 1) / F.lit(4294967297.0)
    key = -(F.col("dsir_logw") + -F.log(-F.log(u)))
    win = Window.orderBy(key, "doc_id")
    ref = sorted(r.doc_id for r in
                 w.withColumn("_rn", F.row_number().over(win))
                 .filter(F.col("_rn") <= 10).collect())
    assert a == ref


def test_bitext_margin_matches_numpy_reference(spark):
    """Margin mining (Artetxe & Schwenk ratio margin) against an
    independent numpy reimplementation: LSH-bucket candidates, k-best
    within-candidate neighbor means, best-per-src by margin, threshold.
    Also: malformed rows (NULL / empty / zero vector) never pair."""
    import numpy as np
    from warc2text_spark.operators.align import bitext_margin
    from warc2text_spark.operators.dedup import release_intermediates

    # deterministic dim-4 vectors: sources even, targets odd
    vecs = {
        0: [1.0, 0.1, 0.0, 0.2],   2: [0.1, 1.0, 0.3, 0.0],
        4: [0.2, 0.2, 1.0, 0.1],   6: [0.9, 0.2, 0.1, 0.3],
        8: [0.3, 0.8, 0.2, 0.1],  10: [0.5, 0.5, 0.5, 0.5],
        1: [0.95, 0.15, 0.05, 0.25], 3: [0.15, 0.9, 0.25, 0.05],
        5: [0.25, 0.3, 0.9, 0.15],   7: [0.6, 0.6, 0.4, 0.4],
        9: [0.4, 0.7, 0.3, 0.2],    11: [0.85, 0.3, 0.2, 0.35],
    }
    planes = [[1.0, -1.0, 0.2, 0.1], [-0.3, 0.4, 1.0, -0.2]]
    k, thr = 2, 0.9

    rows = [(i, v) for i, v in vecs.items()]
    rows += [(90, None), (91, []), (92, [0.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = df.filter("vec_id % 2 = 0")
    tgt = df.filter("vec_id % 2 = 1")
    out = bitext_margin(src, tgt, planes, k=k, threshold=thr)
    got = {(r.a_id, r.b_id, r.cosine, r.margin) for r in out.collect()}
    release_intermediates(out)

    # numpy reference
    def bucket(v):
        return "".join("1" if float(np.dot(v, h)) > 0 else "0"
                       for h in planes)
    ids = sorted(vecs)
    bk = {i: bucket(np.array(vecs[i])) for i in ids}
    pairs = []
    for a in ids:
        for b in ids:
            if a % 2 == 0 and b % 2 == 1 and bk[a] == bk[b]:
                va, vb = np.array(vecs[a]), np.array(vecs[b])
                cos = float(va @ vb) / float(np.linalg.norm(va)
                                             * np.linalg.norm(vb))
                pairs.append((a, b, cos))
    def mean_k(side, i):
        cand = sorted((c for c in pairs if c[side] == i),
                      key=lambda c: (-c[2], c[1 - side]))[:k]
        return sum(c[2] for c in cand) / len(cand)
    exp = {}
    for a, b, cos in pairs:
        m = cos / ((mean_k(0, a) + mean_k(1, b)) / 2.0)
        cur = exp.get(a)
        if cur is None or (-m, b) < (-cur[1], cur[0]):
            exp[a] = (b, m)
    expected = {(a, b, round(cos, 4), round(m, 4))
                for a, (b, m) in exp.items() if m >= thr
                for _, bb, cos in pairs if _ == a and bb == b}
    assert got == expected and got  # non-trivial
    # malformed ids never appear
    assert not {r[0] for r in got} & {90, 91, 92}


def test_quality_classifier_trains_and_separates():
    import math

    from warc2text_spark.operators.selection import (
        QUALITY_NEG_SEED, QUALITY_POS_SEED, _clf_bucket_py, _clf_grams_py,
        train_quality_classifier)
    w, b = train_quality_classifier()
    # deterministic: retraining yields the identical model
    assert (w, b) == train_quality_classifier()

    def prob(t):
        s = b + sum(w.get(_clf_bucket_py(g), 0.0) for g in _clf_grams_py(t))
        return 1.0 / (1.0 + math.exp(-s))

    # seeds are separated with margin
    assert all(prob(t) > 0.9 for t in QUALITY_POS_SEED)
    assert all(prob(t) < 0.1 for t in QUALITY_NEG_SEED)
    # held-out register generalization (direction, not calibration)
    assert prob("The committee met on Tuesday to discuss the annual "
                "budget and approved three new projects.") > 0.5
    assert prob("buy cheap pills online best price discount pills "
                "cheap buy now") < 0.5


def _clf_scores(df):
    """(doc_id, clf_logit, clf_prob) for every doc: the classifier
    projection ``q_quality_score`` runs (the fold logit column, then the
    sigmoid of the rounded logit)."""
    from warc2text_spark.operators.selection import (
        clf_prob_col, quality_classifier_logit_col, train_quality_classifier)
    w, b = train_quality_classifier()
    return (df.select("doc_id",
                      quality_classifier_logit_col(w, b).alias("clf_logit"))
            .select("doc_id", "clf_logit", clf_prob_col().alias("clf_prob")))


def test_quality_classifier_score_matches_local(spark):
    import math

    from warc2text_spark.operators.selection import (
        _clf_bucket_py, _clf_grams_py, train_quality_classifier)
    w, b = train_quality_classifier()
    rows = [("1", "the quick brown fox jumps over the lazy dog"),
            ("2", "CLICK HERE NOW free free free best price"),
            ("3", ""),            # empty doc: bias-only logit, no NULLs
            ("4", "researchers published a detailed study")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r.doc_id: r for r in _clf_scores(df).collect()}
    assert set(out) == {"1", "2", "3", "4"}
    for doc_id, text in rows:
        logit = round(b + sum(w.get(_clf_bucket_py(g), 0.0)
                              for g in _clf_grams_py(text)), 6)
        assert out[doc_id].clf_logit == logit, (doc_id, text)
        assert out[doc_id].clf_prob == round(
            1.0 / (1.0 + math.exp(-logit)), 6)
    assert out["3"].clf_logit == round(b, 6)


def test_quality_classifier_plan_is_pure_projection(spark):
    """Scale shape (r7): scoring is a single JVM projection — the
    weight table is a constant-folded array literal, so there is no
    Python crossing, no join, and no shuffle of any corpus row."""
    df = spark.createDataFrame([("1", "some text here")],
                               "doc_id string, text string")
    plan = _clf_scores(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan and "MapInArrow" not in plan
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_quality_classifier_fold_matches_joined_twin(spark):
    """The r7 fold projection must reproduce the r6 explode+broadcast-
    join shape bit-for-bit (same doubles: same fold order, same 0.0 for
    untrained buckets)."""
    from tests.twins import quality_classifier_score_joined
    rows = [("1", "the quick brown fox jumps over the lazy dog"),
            ("2", "CLICK HERE NOW free free free best price"),
            ("3", ""),
            ("4", "researchers published a detailed study describing"),
            ("5", "cheap watches best price cheap watches discount"),
            ("6", "a  b   c \t d \n e"),   # multi-space / ws classes
            ("7", "one-token")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    fold = {r.doc_id: (r.clf_logit, r.clf_prob)
            for r in _clf_scores(df).collect()}
    joined = {r.doc_id: (r.clf_logit, r.clf_prob)
              for r in quality_classifier_score_joined(df).collect()}
    assert fold == joined
