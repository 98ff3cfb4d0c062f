"""Training-set selection operators: decontamination, LM-quality scoring,
deterministic sampling.

Beyond-reference (graft mandate): the operations a large-scale LLM
training-data pipeline applies after extraction/dedup to decide what goes
into the training set —

* :func:`decontaminate` — GPT-3/Pile-style benchmark decontamination:
  drop documents sharing any word n-gram with a held-out benchmark set.
* :func:`unigram_surprisal` — CCNet-direction language-model quality
  scoring: per-document mean token surprisal under a corpus-derived
  unigram model (low = fluent/common, high = gibberish or OOV-dense).
* :func:`bigram_surprisal` — the conditional-bigram step toward CCNet's
  real n-gram LM: mean -ln p(w2|w1), same native broadcast-ln-table
  design, catches shuffled/incoherent text the unigram model cannot.
* :func:`kn_trigram_surprisal` — interpolated Kneser–Ney trigram LM
  (r6): mean -ln p_KN(w3|w1 w2) with absolute discounting and
  continuation-count backoff over capped head tables — the closest
  wheel-free approximation of CCNet's 5-gram KenLM scoring.
* :func:`sample_stratified` — deterministic hash-based per-stratum
  sampling (reproducible across runs/engines, no RNG state).
* :func:`mixing_weights` — temperature-smoothed data-mixing weights
  (XLM-R-style alpha sampling): per-stratum sampling weight and
  up/down-sampling boost from one tiny histogram aggregate.
* :func:`ccnet_buckets` — CCNet's head/middle/tail perplexity terciles
  per language (exact NTILE semantics), ranked by a two-phase prefix
  count over score-grid cells — no single-task per-language sort.
* :func:`global_shuffle` — deterministic training-order shuffle: a
  reproducible global permutation position per row (hash-ordered,
  salt = epoch), ranked by a two-phase distributed prefix count.

Scale notes are per-function; none of them shuffles the document payload.
"""

from __future__ import annotations

import math

import re

from pyspark.sql import DataFrame, functions as F

from .textops import bind

_WS_SPLIT = r"\s+"
# Python twin of the Spark/DuckDB tokenizer: Java and RE2 \s are the
# ASCII class [ \t\n\x0b\f\r], so Python-side tokenization (the
# classifier trainer, the differential twins) must split ASCII-only too —
# Python's default \s would additionally split on U+00A0 etc. (which
# extracted HTML is full of, via &nbsp;), silently diverging from the
# model fit and the oracle.
_PY_WS = re.compile(_WS_SPLIT, re.ASCII)


def _py_tokens(text: str) -> list[str]:
    return [t for t in _PY_WS.split(text) if t]


def _tokens(text_col: str):
    return F.filter(F.split(F.col(text_col), _WS_SPLIT), lambda x: x != "")


def ngram_col(tokens, n: int):
    """Array of word n-grams (space-joined) of ``tokens``; empty when the
    document is shorter than ``n`` tokens.  Pure native expression;
    ``tokens`` is evaluated once per row (``textops.bind``), not once per
    n-gram."""
    def grams(t):
        return F.when(
            F.size(t) >= n,
            F.transform(F.sequence(F.lit(1), F.size(t) - n + 1),
                        lambda i: F.concat_ws(" ", F.slice(t, i, n))),
        ).otherwise(F.array().cast("array<string>"))
    return bind(tokens, grams)


def _uni_bigrams(text_col: str):
    """The DSIR / quality-classifier feature array: every token, then
    every word bigram, from one tokenization of the row."""
    return bind(_tokens(text_col), lambda t: F.concat(t, ngram_col(t, 2)))


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 8, build_hint: str = "auto") -> DataFrame:
    """Drop documents that share any word ``n``-gram with ``benchmark``
    (the GPT-3 appendix-C / Pile decontamination rule: an n-gram hit on a
    held-out eval set disqualifies the training document).

    Scale: the benchmark n-gram set is distinct-ed (a shuffle over the
    *benchmark* only) and joined semi against the document n-grams; the
    contaminated-id set is ids-only and bounded by the hit rate, and the
    final anti join never shuffles document payloads when the id set
    broadcasts.  ``build_hint`` (see :func:`~..operators.textops.hinted`)
    gates both build sides: ``"auto"`` lets AQE broadcast exactly when
    the benchmark/id sets are genuinely small (the common case — eval
    sets are tiny relative to the corpus); ``"merge"``/``"shuffle_hash"``
    is the bucketed-join fallback for benchmark suites too large to
    broadcast — identical output, n-grams shuffle on their hash instead.
    """
    from .textops import hinted
    bench_ng = (benchmark.select(
        F.explode(ngram_col(_tokens(text_col), n)).alias("ng")).distinct())
    doc_ng = docs.select(id_col, F.explode(
        ngram_col(_tokens(text_col), n)).alias("ng"))
    contaminated = (doc_ng.join(hinted(bench_ng, build_hint),
                                "ng", "left_semi")
                    .select(id_col).distinct())
    return docs.join(hinted(contaminated, build_hint), id_col, "left_anti")


def unigram_frequencies(docs: DataFrame, text_col: str = "text",
                        vocab_cap: int = 100_000) -> DataFrame:
    """(w, c) head-of-vocabulary term frequencies over the corpus —
    one map-side-combined groupBy; the cap bounds what the scorer must
    hold per executor (ties broken by word for determinism)."""
    return (docs.select(F.explode(_tokens(text_col)).alias("w"))
            .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), "w").limit(vocab_cap))


def unigram_surprisal(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      vocab_cap: int = 100_000,
                      uni_rows: list | None = None) -> DataFrame:
    """Per-document mean token surprisal (nats) under a Laplace-smoothed
    unigram model fit on the corpus itself: p(w) = (c_w + 1) / (T + V + 1)
    with T, V the head-vocabulary token/type totals; out-of-head tokens
    score c_w = 0.  Returns (id, n_tokens, surprisal) — the CCNet-style
    quality signal (high = OOV-dense/gibberish).

    The per-token term factors as ln(T+V+1) - ln(c_w + 1), so the score
    needs only sum(ln(c_w+1)) per document.  Scale: pass 1 is one counts
    shuffle truncated to ``vocab_cap`` rows (collected — bounded, ~MBs at
    the default cap; use a bigger cluster-side join only past ~1M types).

    Pass 2 — the per-token bill at 100 TB — has NO Python crossing at
    all.  Tokens explode JVM-side inside whole-stage codegen, a broadcast
    hash join against the (word -> ln(c+1)) local relation scores each
    token, and a map-side-combined aggregate reduces to one (id, n, sum)
    row per document before any exchange — docs never split across
    partitions, so the only shuffled bytes are one tiny row per document.
    Measured ~10x the throughput of the Python kernels it replaced
    (BENCH.md r5): per-token work runs as generated JVM code, and the
    Arrow serialize/deserialize of every document body is gone.
    """
    # uni_rows: a pre-collected unigram_frequencies() result — callers
    # composing several scorers over the same corpus collect the head
    # table once instead of re-running the counts job per scorer
    freq_rows = (uni_rows if uni_rows is not None
                 else unigram_frequencies(docs, text_col,
                                          vocab_cap).collect())
    freq = {r["w"]: r["c"] for r in freq_rows}
    denom_ln = math.log(sum(freq.values()) + len(freq) + 1)

    spark = docs.sparkSession
    lnc = [(w, math.log(c + 1)) for w, c in freq.items()]
    freq_local = spark.createDataFrame(lnc, "w string, lnc double") \
        if lnc else spark.createDataFrame([], "w string, lnc double")
    tok = docs.select(
        F.col(id_col).cast("string").alias(id_col),
        F.explode(_tokens(text_col)).alias("w"))
    scored = tok.join(F.broadcast(freq_local), "w", "left")
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                 F.sum(F.coalesce(F.col("lnc"), F.lit(0.0))).alias("s"))
            .select(id_col, "n_tokens",
                    F.round(F.lit(denom_ln)
                            - F.col("s") / F.col("n_tokens"), 6)
                    .alias("surprisal")))


def bigram_frequencies(docs: DataFrame, text_col: str = "text",
                       cap: int = 100_000) -> DataFrame:
    """(g, c) head-of-vocabulary bigram frequencies (space-joined word
    pairs) — same shape and determinism contract as
    :func:`unigram_frequencies` (ties broken by gram)."""
    g = ngram_col(_tokens(text_col), 2)
    return (docs.select(F.explode(g).alias("g"))
            .groupBy("g").agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), "g").limit(cap))


def bigram_surprisal(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     vocab_cap: int = 100_000,
                     uni_rows: list | None = None,
                     bi_rows: list | None = None) -> DataFrame:
    """Conditional bigram surprisal — one step from the unigram model
    toward CCNet's real n-gram LM: per document, the mean of
    -ln p(w2 | w1) under Laplace smoothing over the corpus's own head
    vocabularies, p(w2|w1) = (c12 + 1) / (c1 + V + 1) with c12 the
    bigram count, c1 the context-unigram count and V the head unigram
    type count (out-of-head counts score 0).  Returns (id, n_bigrams,
    surprisal2) for documents with >= 2 tokens; a fluent document's
    common transitions make it score lower than shuffled or gibberish
    text with the same unigram profile — the signal the unigram model
    cannot see.

    Scale (the unigram native-kernel design, twice): two bounded count
    shuffles truncated to ``vocab_cap`` rows each and collected;
    pass 2 explodes (w1, bigram) pairs JVM-side, broadcast-joins the
    two local ln-tables, and reduces map-side to one row per document —
    no Python crossing, only one tiny row per doc ever shuffles."""
    uni = (uni_rows if uni_rows is not None
           else unigram_frequencies(docs, text_col, vocab_cap).collect())
    v = len(uni)
    oov_ctx = math.log(v + 1)
    bi = (bi_rows if bi_rows is not None
          else bigram_frequencies(docs, text_col, vocab_cap).collect())
    spark = docs.sparkSession
    ctx_rows = [(r["w"], math.log(r["c"] + v + 1)) for r in uni]
    big_rows = [(r["g"], math.log(r["c"] + 1)) for r in bi]
    ctx_local = spark.createDataFrame(ctx_rows, "w1 string, lnc1 double") \
        if ctx_rows else spark.createDataFrame([], "w1 string, lnc1 double")
    big_local = spark.createDataFrame(big_rows, "g string, lnc12 double") \
        if big_rows else spark.createDataFrame([], "g string, lnc12 double")
    pairs = bind(_tokens(text_col), lambda toks: F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.concat_ws(" ", F.slice(toks, i, 2)).alias("g")))
    ).otherwise(F.array().cast("array<struct<w1:string,g:string>>")))
    ex = (docs.select(F.col(id_col).cast("string").alias(id_col),
                      F.explode(pairs).alias("p"))
          .select(id_col, "p.w1", "p.g"))
    scored = (ex.join(F.broadcast(ctx_local), "w1", "left")
              .join(F.broadcast(big_local), "g", "left"))
    # clamp at 0: with w1 outside the unigram head but the bigram inside
    # its own head, c12 can exceed V and the raw term goes negative
    # (implied p(w2|w1) > 1) — a clamped term keeps the surprisal
    # interpretation at any vocab_cap (oracle mirrors the greatest())
    term = F.greatest(
        F.coalesce(F.col("lnc1"), F.lit(oov_ctx))
        - F.coalesce(F.col("lnc12"), F.lit(0.0)),
        F.lit(0.0))
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                 F.sum(term).alias("_s"))
            .select(id_col, "n_bigrams",
                    F.round(F.col("_s") / F.col("n_bigrams"), 6)
                    .alias("surprisal2")))


def trigram_frequencies(docs: DataFrame, text_col: str = "text",
                        cap: int = 100_000) -> DataFrame:
    """(g, c) head-of-vocabulary trigram frequencies (space-joined word
    triples) — same shape and determinism contract as
    :func:`unigram_frequencies` (ties broken by gram)."""
    g = ngram_col(_tokens(text_col), 3)
    return (docs.select(F.explode(g).alias("g"))
            .groupBy("g").agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), "g").limit(cap))


def kn_trigram_surprisal(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         vocab_cap: int = 100_000,
                         discount: float = 0.75,
                         uni_rows: list | None = None,
                         bi_rows: list | None = None) -> DataFrame:
    """Interpolated Kneser–Ney trigram surprisal (VERDICT r5 item 4 —
    the step from bigram_surprisal toward CCNet's real 5-gram KenLM,
    Wenzek et al. 2020 §3; KN per Chen & Goodman 1999 eq. 16): per
    document the mean of -ln p_KN(w3 | w1 w2) with absolute discount
    ``d`` and continuation-count backoff, all quantities defined over
    the corpus's own capped head tables (documented scope — the head
    IS the model, same contract as the unigram/bigram scorers):

        pc(w3)       = (N1+(·w3) + 0.5) / (N_bi + 0.5 (V + 1))
        p2(w3|w2)    = (max(c23-d, 0) + d N1+(w2·) pc(w3)) / c2
                       — backoff to pc when w2 has no head evidence
        p3(w3|w1w2)  = (max(c123-d, 0) + d N1+(w1w2·) p2) / c12
                       — backoff to p2 when (w1,w2) has no evidence

    with N1+(·w3)/N1+(w2·) continuation/context type counts from the
    bigram head, N1+(w1w2·) from the trigram head, and the +0.5 floor
    keeping every probability strictly positive (unseen mass).  Returns
    ``(id, n_trigrams, surprisal3)`` for documents with >= 3 tokens.

    Scale (the twice-over broadcast-ln design, now thrice): three
    bounded count shuffles truncated to ``vocab_cap`` rows each and
    collected; the scoring pass explodes (g123, g12, g23, w2, w3)
    JVM-side, broadcast-joins five tiny local tables, and reduces
    map-side to one row per document — no Python crossing, only one
    tiny row per doc ever shuffles.  The oracle mirrors every
    expression with identical parenthesization so double arithmetic
    agrees bit-for-bit."""
    uni = (uni_rows if uni_rows is not None
           else unigram_frequencies(docs, text_col, vocab_cap).collect())
    bi = (bi_rows if bi_rows is not None
          else bigram_frequencies(docs, text_col, vocab_cap).collect())
    tri = trigram_frequencies(docs, text_col, vocab_cap).collect()
    v = len(uni)
    n_bi = len(bi)
    denom_pc = n_bi + 0.5 * (v + 1)
    from collections import Counter
    n1p2 = Counter()    # N1+(w2 ·): distinct head bigrams starting w2
    cont3 = Counter()   # N1+(· w3): distinct head bigrams ending w3
    for r in bi:
        a, b = r["g"].split(" ", 1)
        n1p2[a] += 1
        cont3[b] += 1
    n1p12 = Counter()   # N1+(w1 w2 ·): distinct head trigrams per context
    for r in tri:
        n1p12[r["g"].rsplit(" ", 1)[0]] += 1
    spark = docs.sparkSession

    def local(rows, schema):
        return (spark.createDataFrame(rows, schema) if rows
                else spark.createDataFrame([], schema))

    uni_t = local([(r["w"], int(r["c"])) for r in uni],
                  "w2 string, c2 long")
    big_t = local([(r["g"], int(r["c"])) for r in bi],
                  "g string, cb long")
    tri_t = local([(r["g"], int(r["c"])) for r in tri],
                  "g123 string, c123 long")
    ctx_t = local(sorted(n1p12.items()), "g12k string, n1p12 long")
    w2_t = local(sorted(n1p2.items()), "w2k string, n1p2 long")
    w3_t = local(sorted(cont3.items()), "w3 string, cont3 long")

    pos = bind(_tokens(text_col), lambda toks: F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.struct(
                F.concat_ws(" ", F.slice(toks, i, 3)).alias("g123"),
                F.concat_ws(" ", F.slice(toks, i, 2)).alias("g12"),
                F.concat_ws(" ", F.slice(toks, i + 1, 2)).alias("g23"),
                F.element_at(toks, i + 1).alias("w2"),
                F.element_at(toks, i + 2).alias("w3")))
    ).otherwise(F.array().cast(
        "array<struct<g123:string,g12:string,g23:string,"
        "w2:string,w3:string>>")))
    ex = (docs.select(F.col(id_col).cast("string").alias(id_col),
                      F.explode(pos).alias("p"))
          .select(id_col, "p.g123", "p.g12", "p.g23", "p.w2", "p.w3"))
    scored = (
        ex.join(F.broadcast(tri_t), "g123", "left")
        .join(F.broadcast(big_t.select(F.col("g").alias("g12"),
                                       F.col("cb").alias("c12"))),
              "g12", "left")
        .join(F.broadcast(big_t.select(F.col("g").alias("g23"),
                                       F.col("cb").alias("c23"))),
              "g23", "left")
        .join(F.broadcast(ctx_t.withColumnRenamed("g12k", "g12")),
              "g12", "left")
        .join(F.broadcast(uni_t), "w2", "left")
        .join(F.broadcast(w2_t.withColumnRenamed("w2k", "w2")),
              "w2", "left")
        .join(F.broadcast(w3_t), "w3", "left"))
    d = float(discount)
    c123 = F.coalesce(F.col("c123"), F.lit(0)).cast("double")
    c12 = F.coalesce(F.col("c12"), F.lit(0)).cast("double")
    c23 = F.coalesce(F.col("c23"), F.lit(0)).cast("double")
    c2 = F.coalesce(F.col("c2"), F.lit(0)).cast("double")
    k12 = F.coalesce(F.col("n1p12"), F.lit(0)).cast("double")
    k2 = F.coalesce(F.col("n1p2"), F.lit(0)).cast("double")
    k3 = F.coalesce(F.col("cont3"), F.lit(0)).cast("double")
    pc = (k3 + F.lit(0.5)) / F.lit(float(denom_pc))
    p2 = F.when((c2 > 0) & (k2 > 0),
                (F.greatest(c23 - F.lit(d), F.lit(0.0))
                 + F.lit(d) * k2 * pc) / c2).otherwise(pc)
    p3 = F.when((c12 > 0) & (k12 > 0),
                (F.greatest(c123 - F.lit(d), F.lit(0.0))
                 + F.lit(d) * k12 * p2) / c12).otherwise(p2)
    term = -F.log(p3)
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_trigrams"),
                 F.sum(term).alias("_s"))
            .select(id_col, "n_trigrams",
                    F.round(F.col("_s") / F.col("n_trigrams"), 6)
                    .alias("surprisal3")))


def _md5_bucket(col, k: int):
    """Engine-portable hash bucket: leading 32 md5 bits mod ``k`` (the
    sample_stratified trick — Spark and DuckDB agree bit-for-bit)."""
    return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10)
            .cast("long") % k)


def _const_double_array(values):
    """A double-array literal column built with ONE py4j round-trip.

    ``F.lit`` / ``F.array(*lits)`` cost one driver round-trip PER
    element (PySpark's lit(list) loops lit() per item), which for the
    4096/10000-slot constant tables below is seconds of
    query-CONSTRUCTION time — and the frozen bench times construction.
    repr(float) is shortest-round-trip exact under the JVM's
    Double.parseDouble; the D suffix forces DoubleType for plain
    decimal forms (scientific forms are already doubles in Spark SQL).
    Bit-exactness is pinned by test_const_double_array_exact."""
    def fmt(v):
        r = repr(float(v))
        return r if ("e" in r or "E" in r) else r + "D"
    return F.expr("array(" + ",".join(fmt(v) for v in values) + ")")


def _dsir_buckets(df: DataFrame, text_col: str, id_col: str,
                  n_buckets: int) -> DataFrame:
    """(id, bkt) — one row per hashed n-gram INSTANCE (unigrams +
    bigrams, the DSIR feature set), bucketed portably."""
    return (df.select(F.col(id_col),
                      F.explode(_uni_bigrams(text_col)).alias("ng"))
            .select(id_col, _md5_bucket(F.col("ng"), n_buckets)
                    .alias("bkt")))


def dsir_logweights(docs: DataFrame, target: DataFrame,
                    text_col: str = "text", id_col: str = "doc_id",
                    n_buckets: int = 10_000,
                    alpha: float = 0.5) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, NeurIPS): score every raw document by how much more likely
    its hashed n-gram features are under a TARGET distribution (the
    high-quality corpus you want more of) than under the raw corpus
    itself.  Features are unigram+bigram instances hashed to
    ``n_buckets``; both distributions are add-``alpha`` smoothed bucket
    multinomials; the per-document log importance weight is

        log w(x) = sum over gram instances b of
                   [ln p_target(b) - ln p_raw(b)]

    Returns (id, n_grams, dsir_logw) for EVERY doc (empty docs score
    0.0 with n_grams 0 — the no-NULLs sentinel rule).

    Scale (the surprisal head-table design): two bounded aggregates
    down to ``n_buckets`` rows each, collected; the scoring pass
    explodes gram instances JVM-side (md5 in codegen), broadcast-joins
    one tiny (bucket, lambda) table, and reduces map-side to one row
    per document — no Python crossing, documents never shuffle."""
    raw_rows = (_dsir_buckets(docs, text_col, id_col, n_buckets)
                .groupBy("bkt").agg(F.count(F.lit(1)).alias("c"))
                .collect())
    tgt_rows = (_dsir_buckets(target, text_col, id_col, n_buckets)
                .groupBy("bkt").agg(F.count(F.lit(1)).alias("c"))
                .collect())
    raw_c = {r["bkt"]: r["c"] for r in raw_rows}
    tgt_c = {r["bkt"]: r["c"] for r in tgt_rows}
    t_raw = sum(raw_c.values()) + alpha * n_buckets
    t_tgt = sum(tgt_c.values()) + alpha * n_buckets
    lam0 = math.log(alpha / t_tgt) - math.log(alpha / t_raw)
    lam_rows = [
        (b, math.log((tgt_c.get(b, 0) + alpha) / t_tgt)
         - math.log((raw_c.get(b, 0) + alpha) / t_raw))
        for b in sorted(set(raw_c) | set(tgt_c))]
    # r7: the scoring pass is a PURE PROJECTION (the
    # quality_classifier_logit_col trick): the bounded lambda table
    # becomes a constant-folded n_buckets-slot array literal (default
    # value lam0 — exactly what the joined shape's coalesce(lam, lam0)
    # added for unseen buckets) and the per-doc sum is a left fold over
    # the gram array in the SAME order the exploded rows summed —
    # bit-identical doubles, but no explode, no broadcast join, no
    # per-doc shuffle, no ids join (the r6 joined shape is kept as a
    # differential twin in tests/twins.py).
    dense = [lam0] * n_buckets
    for b, l in lam_rows:
        dense[int(b)] = l
    lamarr = _const_double_array(dense)
    grams = F.col("_grams")
    fold = F.aggregate(
        grams, F.lit(0.0),
        lambda acc, g: acc + F.element_at(
            lamarr, (_md5_bucket(g, n_buckets) + 1).cast("int")))
    return (docs.select(F.col(id_col), _uni_bigrams(text_col).alias("_grams"))
            .select(F.col(id_col),
                    F.coalesce(F.size(grams).cast("long"),
                               F.lit(0).cast("long")).alias("n_grams"),
                    F.coalesce(F.round(fold, 6), F.lit(0.0))
                    .alias("dsir_logw")))


def dsir_resample(weights: DataFrame, frac: float = 0.2,
                  id_col: str = "doc_id", salt: str = "g1",
                  cells_per_nat: int = 8) -> DataFrame:
    """The resampling half of DSIR: draw ``frac`` of the corpus WITHOUT
    replacement, proportionally to the importance weights, via the
    Gumbel-top-k trick — key(x) = log w(x) + Gumbel(0,1), take the k
    largest.  The Gumbel draw is deterministic (md5-derived uniform in
    (0,1), reproducible across runs/engines; change ``salt`` for an
    independent draw).

    Scale: the top-k is ranked by the ccnet_buckets two-phase prefix
    count over key-grid cells — no global single-task sort; the total
    count comes from the tiny per-cell counts frame, not another
    corpus pass."""
    v = F.conv(F.substring(
        F.md5(F.concat_ws(":", F.col(id_col).cast("string"),
                          F.lit(salt))), 1, 8), 16, 10).cast("long")
    u = (v + 1) / F.lit(4294967297.0)
    key = -(F.col("dsir_logw") + -F.log(-F.log(u)))
    scored = weights.withColumn("_key", key).withColumn(
        "_cell", F.floor(F.col("_key") * cells_per_nat).cast("long"))
    ranked, counts = _two_phase_rank(scored, "_cell", ["_key", id_col])
    total = counts.agg(F.sum("_cn").alias("n"))
    k = F.ceil(F.lit(float(frac)) * F.col("n")).cast("long")
    return (ranked.crossJoin(F.broadcast(total.select(k.alias("_k"))))
            .filter(F.col("_rank") <= F.col("_k"))
            .select(id_col, "n_grams", "dsir_logw"))


# ---------------------------------------------------------------------------
# Trained quality classifier (the GPT-3 / CCNet / Gopher curation stage:
# a linear classifier over hashed n-gram features separating a
# high-quality reference register from crawl junk — Brown et al. 2020
# §A "quality filtering"; CCNet trains fastText the same way).  Features
# are the DSIR feature map verbatim (unigram+bigram instances, md5
# 32-bit buckets — engine-portable), so the scoring pass is the same
# JVM-native explode + broadcast-join + map-side-agg plan and the DuckDB
# oracle can state the trained weights as a VALUES literal.
# ---------------------------------------------------------------------------

CLF_BUCKETS = 4096

# Seed registers (authored here, public text).  Positive: well-formed
# expository prose.  Negative: the crawl-junk registers a quality
# classifier exists to catch — keyword stuffing, promo shouting, nav
# boilerplate, lorem filler, cookie banners.
QUALITY_POS_SEED = [
    "The river begins in the northern mountains and flows south through "
    "three countries before reaching the sea.",
    "Researchers at the university published a detailed study describing "
    "how the disease spreads between migratory birds.",
    "The museum's new exhibition traces the history of printing from "
    "carved wooden blocks to modern digital presses.",
    "After the storm passed, engineers inspected the bridge and found "
    "that the main span had suffered only minor damage.",
    "The novel follows a young teacher who moves to a remote village and "
    "slowly earns the trust of its inhabitants.",
    "Astronomers confirmed that the comet will make its closest approach "
    "to Earth in early October, visible to the naked eye.",
    "The committee voted to restore the old library building rather than "
    "demolish it, citing its architectural significance.",
    "Local farmers have adopted drip irrigation because it uses far less "
    "water than the traditional flooding method.",
]
QUALITY_NEG_SEED = [
    "cheap watches best price cheap watches discount watches buy watches "
    "online cheap cheap best deal watches",
    "CLICK HERE NOW!!! FREE FREE FREE limited offer ACT NOW click here "
    "click here WIN BIG $$$",
    "home | about | products | services | contact | sitemap | privacy | "
    "terms | login | register",
    "lorem ipsum dolor sit amet lorem ipsum dolor sit amet lorem ipsum "
    "dolor sit amet consectetur",
    "viagra cialis casino poker online casino best casino bonus casino "
    "no deposit casino casino",
    "This website uses cookies to improve your experience. Accept all "
    "cookies. Manage cookie preferences. Cookie policy.",
    "copyright 2009 all rights reserved powered by wordpress theme by "
    "themes free download free download",
    "page 1 page 2 page 3 next last first previous page 4 page 5 page 6 "
    "next last archive tags",
]


def _clf_grams_py(text: str) -> list[str]:
    toks = _py_tokens(text)
    return toks + [toks[i] + " " + toks[i + 1]
                   for i in range(len(toks) - 1)]


def _clf_bucket_py(ng: str, n_buckets: int = CLF_BUCKETS) -> int:
    import hashlib
    return int(hashlib.md5(ng.encode("utf-8")).hexdigest()[:8],
               16) % n_buckets


def train_quality_classifier(pos: list[str] | None = None,
                             neg: list[str] | None = None,
                             n_buckets: int = CLF_BUCKETS,
                             epochs: int = 300, lr: float = 0.5,
                             l2: float = 1e-3
                             ) -> tuple[dict[int, float], float]:
    """Logistic regression over hashed-count features, full-batch
    gradient descent — deterministic (zero init, fixed epoch count,
    float64), so the driver query and the generated oracle SQL train
    to bit-identical weights.  Returns ({bucket: weight}, bias) with
    only nonzero-feature buckets present."""
    import numpy as np
    pos = QUALITY_POS_SEED if pos is None else pos
    neg = QUALITY_NEG_SEED if neg is None else neg
    texts = list(pos) + list(neg)
    y = np.array([1.0] * len(pos) + [0.0] * len(neg))
    # dense counts over only the buckets the seeds touch (sorted — the
    # weight order is part of determinism)
    touched = sorted({_clf_bucket_py(g, n_buckets)
                      for t in texts for g in _clf_grams_py(t)})
    col = {b: i for i, b in enumerate(touched)}
    X = np.zeros((len(texts), len(touched)))
    for r, t in enumerate(texts):
        for g in _clf_grams_py(t):
            X[r, col[_clf_bucket_py(g, n_buckets)]] += 1.0
    w = np.zeros(len(touched))
    b = 0.0
    n = max(len(texts), 1)
    for _ in range(epochs):
        p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
        err = p - y
        w -= lr * (X.T @ err / n + l2 * w)
        b -= lr * float(err.mean())
    return {bk: float(w[i]) for bk, i in col.items()
            if w[i] != 0.0}, float(b)


def quality_classifier_logit_col(weights: dict[int, float], bias: float,
                                 n_buckets: int = CLF_BUCKETS,
                                 text_col: str = "text"):
    """``clf_logit`` as a PURE PROJECTION column (r7 optimization).

    The bucket space is bounded (``n_buckets``, default 4096), so the
    weight table becomes a constant-folded n_buckets-slot array literal
    indexed O(1) by ``element_at`` — no explode, no joins, no shuffle
    (the r6 shape exploded one row per gram instance through a
    broadcast join and a per-doc aggregate; measured 1.31 s -> 0.43 s
    at sf0.1).  The per-doc sum is a left fold over the gram array in
    the SAME order the exploded rows summed, adding the SAME 0.0 for
    untrained buckets, so the doubles are bit-identical to the joined
    twin (differential-tested; driver-oracle hash unchanged)."""
    dense = [0.0] * n_buckets
    for bkt, wgt in weights.items():
        dense[int(bkt)] = float(wgt)
    warr = _const_double_array(dense)
    fold = F.aggregate(
        _uni_bigrams(text_col), F.lit(0.0),
        lambda acc, g: acc + F.element_at(
            warr, (_md5_bucket(g, n_buckets) + 1).cast("int")))
    return F.round(F.lit(float(bias)) + F.coalesce(fold, F.lit(0.0)), 6)


def clf_prob_col(logit=None):
    """sigmoid of the (already rounded) logit column, rounded to 6."""
    logit = F.col("clf_logit") if logit is None else logit
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)


def sample_stratified(df: DataFrame, strata_col: str, pct: int,
                      key_col: str = "doc_id",
                      salt: str = "s4") -> DataFrame:
    """Deterministic ``pct``-percent sample per stratum: a row is kept
    when md5(strata:key:salt)'s leading 32 bits fall under the threshold.
    Reproducible across runs, engines and partitionings (no RNG state, no
    seed-per-partition drift); changing ``salt`` draws an independent
    sample.  Zero shuffle — a pure native filter that composes with
    partition pruning and pushdown."""
    bucket = (F.conv(F.substring(
        F.md5(F.concat_ws(":", F.col(strata_col),
                          F.col(key_col).cast("string"), F.lit(salt))),
        1, 8), 16, 10).cast("long") % 100)
    return df.filter(bucket < pct)


def mixing_weights(df: DataFrame, strata_col: str = "lang",
                   size_col: str | None = None,
                   alpha: float = 0.3,
                   sizes: DataFrame | None = None) -> DataFrame:
    """Temperature-smoothed data-mixing weights (the multilingual
    alpha-sampling of XLM-R / mBERT / mC4: p_i ∝ size_i^alpha): per
    stratum, the normalized sampling weight ``mix_weight`` and the
    up/down-sampling factor ``mix_boost`` = weight / natural frequency
    (> 1 means the loader oversamples the stratum relative to its share
    of the corpus).  ``size_col`` measures stratum mass (e.g. chars or
    tokens); None counts rows.  alpha=1 recovers natural sampling,
    alpha=0 uniform.  Weights are rounded to 6 digits so the result is
    engine-portable (pow() last-ulp differences can't leak).  A
    zero-mass stratum (or an all-empty corpus) gets weight/boost 0.0 —
    never NULL (the driver-compare sentinel rule).

    Pass ``sizes`` — a pre-aggregated (strata_col, size_col) frame, e.g.
    an already-computed histogram — to skip the corpus aggregate and
    reuse its scan.  Scale: one map-side-combined aggregate down to
    #strata rows, then scalar totals broadcast back — nothing beyond
    the histogram ever shuffles."""
    if sizes is not None:
        agg = sizes.select(strata_col,
                           F.col(size_col).cast("double").alias("_s"))
    else:
        size = (F.sum(size_col) if size_col
                else F.count(F.lit(1))).cast("double")
        agg = df.groupBy(strata_col).agg(size.alias("_s"))
    powed = agg.withColumn(
        "_p", F.when(F.col("_s") > 0,
                     F.pow(F.col("_s"), F.lit(alpha))).otherwise(0.0))
    tot = powed.agg(F.sum("_p").alias("_tp"), F.sum("_s").alias("_ts"))
    weight = F.when(F.col("_tp") > 0,
                    F.col("_p") / F.col("_tp")).otherwise(0.0)
    natural = F.col("_s") / F.col("_ts")
    return (powed.crossJoin(F.broadcast(tot))
            .select(strata_col,
                    F.round(weight, 6).alias("mix_weight"),
                    F.round(F.when(F.col("_s") > 0, weight / natural)
                            .otherwise(0.0), 6)
                    .alias("mix_boost")))


def _two_phase_rank(df: DataFrame, bucket_col: str, order_cols: list,
                    part_cols: tuple = ()) -> tuple[DataFrame, DataFrame]:
    """Shared distributed-rank core: the 1-based rank of each row under
    ``order by part_cols, order_cols`` where ``bucket_col`` splits the
    order into contiguous ranges — phase 1 row_numbers within
    (part_cols, bucket), phase 2 offsets each bucket by one tiny window
    over the per-bucket counts joined back (optimizer-sized broadcast).
    No task ever sorts more than one bucket of one partition.  Returns
    (frame + ``_rank``, the per-bucket counts frame) — callers derive
    per-partition totals from the counts, not another corpus pass.

    NULL keys: the bucket/partition columns are derived from caller keys
    (hash of doc_id, score grid cell, …), so a malformed row yields a
    NULL bucket.  A plain equi-join would DROP those rows silently; the
    phase-2 join is null-safe instead, so malformed rows survive into
    the output (ranked first — NULLS FIRST window order) and the
    composed callers' no-NULL sentinel discipline surfaces them, rather
    than losing corpus rows without a trace."""
    from functools import reduce
    from pyspark.sql import Window
    keys = [*part_cols, bucket_col]
    w_local = Window.partitionBy(*keys).orderBy(*order_cols)
    ranked = df.withColumn("_rn", F.row_number().over(w_local))
    counts = df.groupBy(*keys).agg(F.count("*").alias("_cn"))
    w_bucket = (Window.partitionBy(*part_cols).orderBy(bucket_col)
                .rowsBetween(Window.unboundedPreceding, -1))
    bases = counts.select(
        *[F.col(k).alias(f"_b_{k}") for k in keys],
        F.coalesce(F.sum("_cn").over(w_bucket), F.lit(0)).alias("_base"))
    cond = reduce(lambda a, b: a & b,
                  [ranked[k].eqNullSafe(bases[f"_b_{k}"]) for k in keys])
    out = (ranked.join(bases, cond)
           .withColumn("_rank", (F.col("_base") + F.col("_rn"))
                       .cast("long"))
           .drop("_rn", "_base", *[f"_b_{k}" for k in keys]))
    return out, counts


def ccnet_buckets(scored: DataFrame, lang_col: str = "lang",
                  score_col: str = "surprisal", id_col: str = "doc_id",
                  tiles: int = 3, cells_per_nat: int = 8) -> DataFrame:
    """CCNet's selection mechanism (Wenzek et al. 2020 §4.3): split each
    language's documents into ``tiles`` equal perplexity terciles —
    head/middle/tail by LM score, ascending (bucket 1 = most fluent) —
    so downstream sampling can keep the head and drop or downweight the
    tail.  Adds ``ppl_bucket`` (1-indexed, exact SQL ``NTILE``
    semantics: the first ``n % tiles`` buckets get the extra row; ties
    broken by ``id_col``).

    Scale: a naive ``ntile() over (partition by lang order by score)``
    sorts each language in ONE task — a dominant language (half a crawl
    is English) makes that a 50 TB single-task sort.  Here the per-lang
    rank is a TWO-PHASE PREFIX COUNT over score-grid cells
    (``floor(score * cells_per_nat)`` — contiguous in score order by
    construction): phase 1 row_numbers within (lang, cell), phase 2
    offsets each cell by one tiny window over the per-(lang, cell)
    counts, and the bucket falls out of the rank closed-form — no task
    ever sorts more than one cell of one language.  Granularity assumes
    a spread score distribution (surprisal spreads by construction); a
    degenerate constant-score corpus concentrates into one cell."""
    df = scored.withColumn(
        "_cell", F.floor(F.col(score_col) * cells_per_nat).cast("long"))
    ranked, counts = _two_phase_rank(df, "_cell", [score_col, id_col],
                                     part_cols=(lang_col,))
    # per-lang totals come from the already-tiny per-cell counts — not
    # a third pass over the scored frame's upstream
    totals = counts.groupBy(lang_col).agg(F.sum("_cn").alias("_n"))
    j = (ranked.join(totals, lang_col)
         .withColumn("_q", F.expr(f"_n div {tiles}"))
         .withColumn("_r", (F.col("_n") % tiles).cast("long")))
    # closed-form NTILE from the 1-based rank: first _r tiles hold
    # _q + 1 rows, the rest hold _q (greatest() keeps the dead branch
    # from dividing by zero under ANSI when n < tiles)
    bucket = F.when(
        F.col("_rank") <= F.col("_r") * (F.col("_q") + F.lit(1)),
        F.expr("(_rank - 1) div (_q + 1) + 1")
    ).otherwise(
        F.expr("_r + (_rank - _r * (_q + 1) - 1) div greatest(_q, 1)"
               " + 1"))
    return (j.withColumn("ppl_bucket", bucket.cast("int"))
            .drop("_cell", "_n", "_rank", "_q", "_r"))


def global_shuffle(df: DataFrame, key_col: str = "doc_id",
                   salt: str = "s5", buckets: int = 1024) -> DataFrame:
    """Deterministic training-order shuffle: every row gets
    ``shuffle_pos`` — its 0-based position in a reproducible global
    permutation ordered by md5(key:salt)'s leading 60 bits (ties broken
    by the key itself).  The loader reads rows in ``shuffle_pos`` order
    to get an engine-, run- and partitioning-independent shuffled epoch;
    changing ``salt`` draws an independent permutation per epoch with no
    RNG state to checkpoint.

    Scale: the global rank is a TWO-PHASE DISTRIBUTED PREFIX COUNT,
    never a single-partition sort — the 60-bit key space splits into
    ``buckets`` contiguous ranges (integer ``div``: the key magnitude
    exceeds double precision, float division would corrupt bucket
    edges), phase 1 row_numbers within each range, phase 2 offsets each
    range by one tiny window over the per-bucket counts (<= ``buckets``
    rows) joined back (optimizer-sized broadcast).  All native Catalyst;
    no task sorts more than one bucket's rows."""
    span = (1 << 60) // buckets + 1
    keyed = df.withColumn("_k", F.conv(F.substring(
        F.md5(F.concat_ws(":", F.col(key_col).cast("string"),
                          F.lit(salt))), 1, 15), 16, 10).cast("long")) \
        .withColumn("_bucket", F.expr(f"_k div {span}"))
    ranked, _ = _two_phase_rank(keyed, "_bucket", ["_k", key_col])
    return (ranked.withColumn("shuffle_pos",
                              (F.col("_rank") - 1).cast("long"))
            .drop("_k", "_bucket", "_rank"))
