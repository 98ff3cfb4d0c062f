"""Text-analysis operators for training-data pipelines — all native Catalyst
expressions (no Python in the hot path), designed to scale: every operator
here is a per-row projection or a hash-partitioned aggregation with map-side
combine; nothing shuffles more than once.

Operators: token counting, quality scoring, document fingerprinting,
stopword-based language scoring.  DuckDB-mirrorable semantics (the driver's
oracle) — see plans/benchqueries.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

QUALITY_STOPWORDS = ("the", "and", "of", "to", "in", "is")


def hinted(df: DataFrame, how: str) -> DataFrame:
    """Join-strategy hint gate for the cleaning-layer build sides.

    The duplicated-content sets these operators join back (repeated
    paragraphs/lines/fingerprints, contaminated ids) are small on a test
    fixture but grow WITH corpus duplication — on a 100 TB crawl the
    boilerplate set is tens of GB, and a hardcoded ``F.broadcast`` hint
    would OOM every executor.  So the hint is a parameter:

    * ``"auto"`` (default): no hint — AQE measures the build side at
      runtime and broadcasts exactly when it is genuinely under
      ``spark.sql.autoBroadcastJoinThreshold``, else plans a shuffle join.
    * ``"broadcast"``: force broadcast (caller knows the set is small,
      e.g. a bounded benchmark suite).
    * ``"merge"`` / ``"shuffle_hash"``: force the shuffle-side strategy —
      the explicit 100 TB path (sort-merge scales to any build size).
    """
    if how == "auto":
        return df
    if how == "broadcast":
        return F.broadcast(df)
    return df.hint(how)


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def bind(value: Column, fn) -> Column:
    """``fn(value)`` with ``value`` evaluated once per row.

    Catalyst shares no subexpression across a lambda boundary, so an
    array used inside a higher-order function's lambda (``element_at(w,
    i)`` in a per-position ``transform``) is recomputed for every element
    — a re-split of the whole text per shingle, O(n^2) per document.
    Passing the value through a one-slot ``transform`` makes it a lambda
    variable: ``fn`` sees the computed array, the plan holds ``value``
    once and outside every lambda."""
    return F.element_at(F.transform(F.array(value), fn), 1)


def pack_sequences(df: DataFrame, window: int = 512,
                   text_col: str = "text",
                   bucket_size: int = 1 << 20,
                   n_tokens_col: str | None = None) -> DataFrame:
    """Concat-and-chunk sequence packing (the standard LLM pre-training
    layout: documents concatenated in a deterministic order, sliced into
    fixed ``window``-token training sequences; a document may straddle a
    chunk boundary — the (chunk_id, chunk_offset) pair is the boundary
    index the loader uses).  Returns, per document:
    (doc_id, n_tokens, start_offset, chunk_id, chunk_offset), where
    start_offset is the document's position in the global token stream
    ordered by numeric doc_id.

    Scale: the global running offset is a distributed TWO-PHASE PREFIX
    SUM, never a single-partition window — phase 1 cumsums within
    range-contiguous buckets (``doc_id div bucket_size`` — deterministic,
    no max() pass needed), phase 2 computes each bucket's base offset
    with one tiny window over the per-bucket totals (<= corpus/bucket_size
    rows) joined back (optimizer-sized broadcast).  Every step is native
    Catalyst; no task ever sorts more than one bucket.

    ``n_tokens_col`` reuses an already-computed token count instead of
    tokenizing ``text_col`` (the composed training-set build orders by
    shuffle position and already carries the counts)."""
    from pyspark.sql import Window
    count = (F.col(n_tokens_col) if n_tokens_col
             else F.size(tokens(F.col(text_col))))
    base = df.select(
        F.col("doc_id").cast("long").alias("_id"),
        count.cast("long").alias("n_tokens"))
    # integer div, not float division: past 2^53 a double loses integer
    # precision and bucket edges wobble (same invariant as global_shuffle)
    base = base.withColumn("_bucket", F.expr(f"_id div {int(bucket_size)}"))
    w_local = (Window.partitionBy("_bucket").orderBy("_id")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = base.withColumn("_cum", F.sum("n_tokens").over(w_local))
    totals = base.groupBy("_bucket").agg(
        F.sum("n_tokens").alias("_btotal"))
    w_bucket = (Window.orderBy("_bucket")
                .rowsBetween(Window.unboundedPreceding, -1))
    bases = totals.select(
        "_bucket",
        F.coalesce(F.sum("_btotal").over(w_bucket), F.lit(0))
        .alias("_base"))
    out = (local.join(bases, "_bucket")
           .select(
               F.col("_id").cast("string").alias("doc_id"),
               "n_tokens",
               (F.col("_base") + F.col("_cum") - F.col("n_tokens"))
               .alias("start_offset"))
           .select(
               "doc_id", "n_tokens", "start_offset",
               (F.col("start_offset") / window).cast("long")
               .alias("chunk_id"),
               (F.col("start_offset") % window).alias("chunk_offset")))
    return out


# BPE-style pre-tokenization: letter runs, digit runs and punctuation runs
# count separately (ASCII classes, so the regex is engine-portable)
BPE_ISH_TOKEN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n]+"


# shared expression builders — quality_cols, repetition_ratio, and
# gopher_rules (and their DuckDB oracle twins) must stay definitionally
# consistent, so the expressions exist exactly once
def _mean_word_len(t: Column, w: Column) -> Column:
    return F.octet_length(F.replace(t, F.lit(" "), F.lit(""))) / F.size(w)


def _stopword_hits(w: Column) -> Column:
    return F.size(F.filter(w, lambda x: x.isin(*QUALITY_STOPWORDS)))


def _dup_gram_ratio(sh: Column) -> Column:
    return F.lit(1.0) - F.size(F.array_distinct(sh)) / F.size(sh)


def quality_cols(text_col: str = "text") -> Column:
    """The quality_score feature columns as one struct (fields in output
    order), the text split once: project it as a column and read its
    fields (``select("q.*")``) — one per-row projection, shared so
    composed queries (e.g. the bench quality_score row) can fuse it with
    other per-row columns in a single scan instead of joining two
    projections of the same table."""
    t = F.col(text_col)

    def features(w):
        n_tok = F.size(w).cast("long")
        n_stop = _stopword_hits(w).cast("long")
        return F.struct(
            F.octet_length(t).cast("long").alias("n_chars"),
            n_tok.alias("n_tokens"),
            F.round(_mean_word_len(t, w).cast("double"), 4)
            .alias("avg_token_len"),
            F.round((n_stop / n_tok).cast("double"), 4)
            .alias("stopword_ratio"))
    return bind(tokens(t), features)


def fingerprint(df: DataFrame, text_col: str = "text", gram: int = 5) -> DataFrame:
    """Document fingerprint: min MD5 over character n-grams (a 1-band
    minhash — stable under small edits elsewhere in the doc).

    The text is split into characters once (``bind``) and each n-gram is
    a slice of that array: a ``substring`` per position would walk the
    string from its start, O(n^2) per document.  The position count is
    byte-based (``octet_length``), so a non-ASCII text also hashes its
    short and empty trailing grams — the DuckDB oracle's definition."""
    t = F.col(text_col)
    n = F.greatest(F.octet_length(t) - (gram - 1), F.lit(1))
    grams = bind(F.split(t, ""), lambda chars: F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.md5(F.array_join(F.slice(chars, i, gram), ""))))
    return df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array_min(grams).alias("fingerprint"),
    )


# winnowing parameters (Schleimer/Wilkerson/Aiken, SIGMOD'03 shape):
# polynomial rolling hash base/modulus chosen so every intermediate fits a
# 64-bit signed long on any engine (acc < M, acc*B + 255 < 2^40)
WINNOW_B = 257
WINNOW_M = (1 << 31) - 1


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        k: int = 5, w: int = 4) -> DataFrame:
    """MOSS-style winnowing fingerprints (Schleimer et al., SIGMOD'03):
    polynomial rolling hash of every k-gram (over code points), then the
    minimum hash of each w-window of consecutive k-grams; the distinct
    selected hashes are the document's fingerprint set (guaranteed to
    share values with any document overlapping by >= w+k-1 characters —
    the property exact-match plagiarism/near-dup pipelines rely on).

    This is the package's one justified Arrow kernel outside extraction:
    the per-position rolling recurrence is a linear scan that Catalyst's
    higher-order functions can only express as an O(n*k) interpreted
    expression tree (measured ~100x slower than this vectorized numpy
    form, which does k vector ops per document).  The Catalyst expression
    twin lives in tests/twins.py for differential tests; the DuckDB oracle
    mirrors the same integer arithmetic."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_fps = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                text = text or ""
                codes = np.frombuffer(
                    text.encode("utf-32-le"), dtype=np.uint32) \
                    .astype(np.int64)
                n = max(len(codes) - (k - 1), 1)
                # pad so short texts hash like the expression twin
                # (out-of-range chars contribute ascii('') == 0)
                if len(codes) < n + k - 1:
                    codes = np.concatenate(
                        [codes, np.zeros(n + k - 1 - len(codes), np.int64)])
                acc = np.zeros(n, dtype=np.int64)
                for j in range(k):
                    acc = (acc * WINNOW_B + codes[j:j + n]) % WINNOW_M
                n_win = max(len(acc) - (w - 1), 1)
                if len(acc) < n_win + w - 1:
                    acc = np.concatenate(
                        [acc, np.full(n_win + w - 1 - len(acc), WINNOW_M,
                                      np.int64)])
                wins = np.lib.stride_tricks.sliding_window_view(acc, w) \
                    .min(axis=1)
                fps = np.unique(wins)
                out_ids.extend([str(doc_id)] * len(fps))
                out_fps.extend(fps.tolist())
            yield pd.DataFrame({"doc_id": out_ids, "fp": out_fps})

    return df.select(F.col("doc_id"), F.col(text_col)) \
        .mapInPandas(kernel, "doc_id string, fp long")


def simhash16(df: DataFrame, text_col: str = "text") -> DataFrame:
    """16-bit SimHash: per token, bit i comes from the top bit of the i-th
    hex nibble of md5(token); per-doc majority vote per bit.  Pure string
    ops so the same logic runs on any SQL engine at any scale."""
    w = tokens(F.col(text_col))
    high = tuple("89abcdef")
    # md5 once per token, then one aggregate pass accumulating all 16 bit
    # counters (zip_with over a 16-slot vector) — not 16 passes
    hashes = F.transform(w, lambda x: F.md5(x))
    zeros = F.array_repeat(F.lit(0), 16)
    counts = F.aggregate(
        hashes, zeros,
        lambda acc, h: F.zip_with(
            acc, F.sequence(F.lit(1), F.lit(16)),
            lambda a, i: a + F.when(
                F.substring(h, i, 1).isin(*high), F.lit(1)).otherwise(F.lit(-1))))
    weights = F.array(*[F.lit(1 << (15 - i)) for i in range(16)])
    sim = F.aggregate(
        F.zip_with(counts, weights,
                   lambda c, wt: F.when(c > 0, wt).otherwise(F.lit(0))),
        F.lit(0), lambda a, b: a + b)
    return df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        sim.cast("long").alias("simhash"),
    )


# hex digits whose bit p (p=0 is the nibble's MSB, value 8) is set —
# nibble-bit membership sets shared by simhash64 and its DuckDB oracle
SIMHASH64_BIT_SETS = ("89abcdef", "4567cdef", "2367abef", "13579bdf")
# signed-long bit weights: bit 0 (the MSB) is -(2^63) in two's complement,
# so the signature stays a plain BIGINT on every engine
SIMHASH64_WEIGHTS = [
    (-(2**63) if k == 0 else 1 << (63 - k)) for k in range(64)
]


def _simhash64_fold(df: DataFrame, counts, text_col: str) -> DataFrame:
    weights = F.array(*[F.lit(wt).cast("long") for wt in SIMHASH64_WEIGHTS])
    sim = F.aggregate(
        F.zip_with(counts, weights,
                   lambda c, wt: F.when(c > 0, wt)
                   .otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda a, b: a + b)
    return df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        sim.cast("long").alias("simhash"),
    )


def simhash64(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash — the production signature width (simhash16 is the
    oracle demonstrator).  Per token, bit k comes from bit (k % 4) of hex
    nibble (k // 4) of md5(token): one md5 per token yields all 64 evidence
    bits.  One aggregate pass accumulates a 64-slot counter vector; the
    signature is the signed-long majority vote (MSB weight -(2^63), so the
    value is an ordinary BIGINT and xor/bit_count/banding work identically
    in Spark and DuckDB).  Pure string/array expressions, no Python.

    Default path: each token's first 16 hex digits become ONE signed
    64-bit word (two exact 8-hex ``conv``s, shifted and or-ed), so
    evidence bit k is bit 63 - k of that word: ``(x >> s) & 1`` over
    ``s = 63 .. 0``: two ``conv`` calls per token, then a shift, a mask
    and an add per slot.  The
    membership-set twin (tests/twins.py) is the definitionally-obvious
    form the DuckDB oracle mirrors; a differential test holds them
    bit-identical."""
    def word(h):
        def half(start):
            return F.conv(F.substring(h, start, 8), 16, 10).cast("long")
        return F.shiftleft(half(1), 32).bitwiseOR(half(9))

    hashes = F.transform(tokens(F.col(text_col)), lambda x: F.md5(x))
    words = F.transform(hashes, word)
    counts = F.aggregate(
        words, F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, x: F.zip_with(
            acc, F.sequence(F.lit(63), F.lit(0), F.lit(-1)),
            # F.shiftright takes a constant bit count only
            lambda a, s: a + F.call_function("shiftright", x, s)
            .bitwiseAND(F.lit(1)) * 2 - 1))
    return _simhash64_fold(df, counts, text_col)


def repetition_ratio(df: DataFrame, text_col: str = "text",
                     gram: int = 3) -> DataFrame:
    """Self-repetition signal (the duplicate word-n-gram fraction used by
    Gopher/CCNet-style quality filtering): 1 - distinct/total over word
    3-gram shingles.  Boilerplate-heavy and spam pages score high.  Pure
    per-row array expressions — no shuffle, no Python; the shingle array
    is built once per row and both outputs read it."""
    from .dedup import shingles
    sh = F.col("_sh")
    return (df.select(F.col("doc_id"), shingles(text_col, gram).alias("_sh"))
            .select(F.col("doc_id").cast("string").alias("doc_id"),
                    F.size(sh).cast("long").alias("n_grams"),
                    F.round(_dup_gram_ratio(sh).cast("double"), 4)
                    .alias("dup_gram_ratio")))


def gopher_rules(df: DataFrame, text_col: str = "text",
                 min_words: int = 50, max_words: int = 100_000,
                 min_mean_wl: float = 3.0, max_mean_wl: float = 10.0,
                 min_stopwords: int = 2,
                 max_dup_ratio: float = 0.5) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1 shape,
    thresholds fixed here): word-count bounds, mean-word-length band,
    minimum stopword evidence, and a duplicate-3-gram ceiling; ``pass``
    is the conjunction.  Per-row projections — the web-scale cleaning
    sweep is scan -> this -> filter(pass), nothing shuffles.  The text is
    split once per row and the four rules are projected once as a
    struct, so ``pass`` reads them instead of recomputing them."""
    from .dedup import word_grams
    t = F.col(text_col)

    def rules(w):
        n_tok = F.size(w).cast("long")
        mean_wl = _mean_word_len(t, w)
        dup_ratio = bind(word_grams(w, t, 3), _dup_gram_ratio)
        return F.struct(
            ((n_tok >= min_words) & (n_tok <= max_words))
            .alias("word_count_ok"),
            ((mean_wl >= min_mean_wl) & (mean_wl <= max_mean_wl))
            .alias("mean_word_len_ok"),
            (_stopword_hits(w) >= min_stopwords).alias("stopword_ok"),
            (dup_ratio <= max_dup_ratio).alias("dup_gram_ok"))
    return (df.select(F.col("doc_id").cast("string").alias("doc_id"),
                      bind(tokens(t), rules).alias("_ok"))
            .select("doc_id", "_ok.*")
            .withColumn("pass", F.col("word_count_ok")
                        & F.col("mean_word_len_ok") & F.col("stopword_ok")
                        & F.col("dup_gram_ok")))


HOST_RE = r"^[a-z][a-z0-9+.-]*://([^/?#]+)"


def host_stats(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-host document counts — the primitive behind per-domain caps and
    domain-mix curation in crawl pipelines.  One hash-partitioned groupBy
    with map-side combine; the host regex is RE2/Java-portable so the
    DuckDB oracle applies the identical pattern."""
    host = F.regexp_extract(F.col(url_col), HOST_RE, 1)
    return (df.groupBy(host.alias("host"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))


def canonical_url(url: Column) -> Column:
    """Engine-portable URL canonicalization: strip the fragment,
    lower-case the scheme://host[:port] prefix, drop default ports
    (:80/:443), drop a trailing slash on a bare (query-less) path.
    Deliberately conservative — no query-param reordering, which changes
    semantics on some sites.  Every rule is a regexp on patterns that
    behave identically in Spark and DuckDB (the oracle writes ``\\1`` where
    Spark writes ``$1`` — dialect replacement syntax, same regex)."""
    u = F.regexp_replace(url, "#.*$", "")
    prefix = F.lower(
        F.regexp_extract(u, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1))
    rest = F.regexp_replace(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")
    u = F.when(prefix != "", F.concat(prefix, rest)).otherwise(u)
    u = F.regexp_replace(u, "^(https://[^/?#:]+):443(/|$)", "$1$2")
    u = F.regexp_replace(u, "^(http://[^/?#:]+):80(/|$)", "$1$2")
    # trailing slash only on a NON-EMPTY path ('https://h/' root is kept)
    return F.regexp_replace(
        u, "^([a-z][a-z0-9+.-]*://[^/?#]+/[^?#]*[^/?#])/$", "$1")


def url_dedup(df: DataFrame, url_col: str = "url") -> DataFrame:
    """URL-level dedup: canonicalize, keep the first doc (string doc_id
    order) per canonical URL — the cheap pre-pass a crawl pipeline runs
    before content dedup (re-crawls and fragment/port/case variants
    collapse without touching payloads).  Keep-first == min(doc_id) per
    key, so this is a groupBy-min, not a window: the aggregate gets
    map-side combine (a viral canonical URL collapses to one row per
    input partition before the shuffle) and no per-key sort — immune to
    single-key skew that would pin a window variant to one task.  Only
    (doc_id, url) columns shuffle."""
    base = df.select(F.col("doc_id").cast("string").alias("doc_id"),
                     canonical_url(F.col(url_col)).alias("canon_url"))
    return (base.groupBy("canon_url")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id", "canon_url"))


def vocab_topk(df: DataFrame, k: int = 50, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary head: the k most frequent whitespace tokens with
    counts (tokenizer-health / stopword-discovery staple).  One explode +
    map-side-combined groupBy; the final top-k is TakeOrderedAndProject,
    never a global sort.  Deterministic ties: count desc, token asc."""
    tok = df.select(F.explode(tokens(F.col(text_col))).alias("token"))
    return (tok.groupBy("token")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .orderBy(F.col("n").desc(), F.col("token"))
            .limit(k))


_ACC_FROM = ("àáâãäåāăąçćčďđèéêëēĕėęěìíîïĩīĭįıľĺłñńňņ"
             "òóôõöøōŏőŕřśšşșťţțùúûüũūŭůűųýÿźżž")
_ACC_TO = ("aaaaaaaaacccddeeeeeeeeeiiiiiiiiilllnnnn"
           "ooooooooorrsssstttuuuuuuuuuuyyzzz")
assert len(_ACC_FROM) == len(_ACC_TO)


def ccnet_normalize(col: Column) -> Column:
    """CCNet's paragraph-hash normalization (cc_net text_normalizer
    direction, engine-portable subset): lowercase, every digit -> 0,
    unicode punctuation removed, common Latin diacritics folded.  Used
    as the HASH KEY only — the surviving text is never rewritten."""
    c = F.lower(col)
    c = F.regexp_replace(c, "[0-9]", "0")
    c = F.regexp_replace(c, r"\p{P}", "")
    return F.translate(c, _ACC_FROM, _ACC_TO)


def paragraph_dedup(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    build_hint: str = "auto",
                    normalize: str | None = None) -> DataFrame:
    """CCNet-style paragraph-level deduplication with keep-first
    semantics (public method, CCNet paper: dedup at paragraph granularity
    across the corpus): a paragraph (newline-delimited line) duplicated
    across documents survives only in the smallest-id document; unique
    paragraphs always survive.  Returns (id, clean_text, n_removed).

    Differs from :func:`remove_boilerplate` (which drops a >= min_docs
    line from EVERY document): here exactly one copy survives.

    Empty/whitespace-only lines are structure, not content: they are
    always kept (CCNet dedups nonempty paragraphs — without the
    exemption every blank separator line would hash identically
    corpus-wide and vanish from all but one global winner document).

    Scale: paragraphs explode once with (id, position); the winner per
    DUPLICATED paragraph is one map-side-combined min aggregate over
    (hash -> id) pairs, filtered to count > 1 before the join — the
    build side is the duplicated subset (it IS the repeated content),
    not the corpus's full distinct-line set; unique paragraphs never
    enter the join build side (left join, null keep_id = unique = kept).
    Reassembly is one groupBy over (id, pos, line) rows — line text
    crosses the network once, like the extraction shuffle it typically
    follows.  ``build_hint`` (see :func:`hinted`) gates the join
    strategy: default AQE-decided, ``"merge"`` for the guaranteed-scale
    sort-merge path.  ``normalize="ccnet"`` hashes
    :func:`ccnet_normalize`-d lines instead of raw ones (case/digit/
    punctuation/accent variants of a paragraph then dedup together, the
    cc_net behavior); the kept text is always the original."""
    lines = df.select(
        F.col(id_col).cast("string").alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n"))
        .alias("pos", "line"))
    key = (ccnet_normalize(F.col("line")) if normalize == "ccnet"
           else F.col("line"))
    keyed = lines.withColumn("h", F.md5(key))
    # whitespace-only = nothing left after stripping the ASCII C-isspace
    # set (minus \n, which the split consumed) — F.trim strips ONLY
    # spaces, which would leave tab/formfeed separator lines dedupable
    not_blank = F.regexp_replace(
        F.col("line"), "[ \\t\\f\\r\\x0B]", "") != ""
    if normalize == "ccnet":
        # a line that normalizes to nothing but whitespace ("***",
        # "- - -") is layout, not content — same exemption class as
        # blank lines (strip the same C-isspace set: the normalizer
        # removes punctuation but keeps interior spaces)
        not_blank = not_blank & (F.regexp_replace(
            key, "[ \\t\\f\\r\\x0B]", "") != "")
    winners = (keyed.filter(not_blank)
               .groupBy("h")
               .agg(F.min("id").alias("keep_id"),
                    F.count(F.lit(1)).alias("n"))
               .filter(F.col("n") > 1)
               .select("h", "keep_id"))
    keep = F.col("keep_id").isNull() | (F.col("id") == F.col("keep_id"))
    return (keyed.join(hinted(winners, build_hint), "h", "left")
            .groupBy("id")
            .agg(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(keep, F.struct("pos", "line")))),
                         lambda s: s["line"]),
                     "\n").alias("clean_text"),
                 F.sum(F.when(keep, 0).otherwise(1))
                 .cast("long").alias("n_removed"))
            .withColumnRenamed("id", id_col))


def substring_dedup(df: DataFrame, text_col: str = "text",
                    k: int = 20, w: int = 16,
                    min_docs: int = 2,
                    build_hint: str = "auto") -> DataFrame:
    """Cross-document repeated-substring detection (the public direction
    of Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): winnowing fingerprints over long k-grams shared by
    >= min_docs documents mark repeated substrings; per document, the
    share of its fingerprints that are corpus-repeated is its duplication
    score (1.0 for a verbatim clone, ~0 for fresh text).  Returns
    (doc_id, n_fp, n_shared, dup_ratio).

    Scale: fingerprints shuffle as (id, hash) pairs only; the duplicated-
    hash set is orders smaller than the corpus but still grows with the
    repeated content, so the join strategy is gated by ``build_hint``
    (see :func:`hinted` — AQE-decided by default, ``"merge"`` for the
    guaranteed sort-merge scale path); the per-doc aggregate is
    map-side-combined.  Payloads never move."""
    fps = winnow_fingerprints(df, text_col, k=k, w=w)
    dup = (fps.groupBy("fp").agg(F.count(F.lit(1)).alias("nd"))
           .filter(F.col("nd") >= min_docs)
           .select("fp", F.lit(1).alias("is_dup")))
    per = (fps.join(hinted(dup, build_hint), "fp", "left")
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_fp"),
                F.sum(F.coalesce(F.col("is_dup"), F.lit(0)))
                .cast("long").alias("n_shared")))
    return per.select(
        "doc_id", "n_fp", "n_shared",
        F.round(F.col("n_shared") / F.col("n_fp"), 6).alias("dup_ratio"))


def bpe_pair_counts(df: DataFrame, k: int = 50,
                    text_col: str = "text") -> DataFrame:
    """First iteration of BPE tokenizer training (public algorithm,
    Sennrich et al. 2016): corpus-weighted counts of adjacent SYMBOL pairs
    — characters at iteration 0, with an end-of-word marker '</w>' on the
    last symbol — ranked desc; the top pair is the first merge.

    Scale: pass 1 collapses the corpus to the distinct-word frequency
    table (one map-side-combined groupBy — the type/token ratio does the
    compression); pair explosion runs over *types*, weighted by their
    counts, so the second aggregate touches |vocab| x word-length rows,
    not the corpus.  Top-k is TakeOrderedAndProject, never a global sort.
    Deterministic ties: count desc, pair asc."""
    wf = (df.select(F.explode(tokens(F.col(text_col))).alias("w"))
          .groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("wc")))
    chars = F.split(F.col("w"), "")
    pairs = F.when(
        F.size(chars) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(chars) - 1),
            lambda i: F.concat(
                F.element_at(chars, i), F.lit(" "),
                F.element_at(chars, i + 1),
                F.when(i == F.size(chars) - 1, F.lit("</w>"))
                .otherwise(F.lit(""))))
    ).otherwise(F.array().cast("array<string>"))
    return (wf.select(F.explode(pairs).alias("pair"), "wc")
            .groupBy("pair").agg(F.sum("wc").cast("long").alias("n"))
            .orderBy(F.col("n").desc(), F.col("pair"))
            .limit(k))


def corpus_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row corpus profile: doc/token/byte totals plus exact token-count
    percentiles (p50/p90/p99) — the summary a curation run reports before
    and after each cleaning stage.  Spark's exact ``percentile`` uses the
    same linear interpolation as DuckDB's quantile_cont, so the oracle
    matches bit-for-bit on the fixture.  One aggregation with map-side
    combine; at 10^12 rows swap ``percentile`` for ``approx_percentile``
    (the exact one holds per-group counts) — same shape, documented
    accuracy trade."""
    n_tok = F.size(tokens(F.col(text_col)))
    n_chars = F.octet_length(F.col(text_col))
    pct = F.expr(
        f"percentile(size(split({text_col}, ' ')), array(0.5, 0.9, 0.99))")
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(n_tok).cast("long").alias("total_tokens"),
        F.sum(n_chars).cast("long").alias("total_chars"),
        F.round(F.avg(n_tok), 4).alias("mean_tokens"),
        F.round(pct[0], 4).alias("p50_tokens"),
        F.round(pct[1], 4).alias("p90_tokens"),
        F.round(pct[2], 4).alias("p99_tokens"),
    )


def host_cap(df: DataFrame, cap: int = 100, url_col: str = "url",
             text_col: str = "text") -> DataFrame:
    """Per-domain document cap: keep the top ``cap`` docs per host ranked
    by content length (desc; doc_id string tiebreak) — the curation
    primitive behind domain-mix balancing in crawl pipelines (a viral host
    must not dominate the training mix).  One window over the
    hash-partitioned host key — a per-host top-N, never a global sort;
    the skew bound is the largest single host, and a pathological
    mega-host can be pre-capped via host_stats before ranking."""
    from pyspark.sql import Window
    base = df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.regexp_extract(F.col(url_col), HOST_RE, 1).alias("host"),
        F.octet_length(F.col(text_col)).cast("long").alias("n_chars"))
    w = Window.partitionBy("host").orderBy(F.col("n_chars").desc(),
                                           F.col("doc_id"))
    return (base.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= cap))


def host_cap_salted(df: DataFrame, cap: int = 100, url_col: str = "url",
                    text_col: str = "text",
                    salt_buckets: int = 16) -> DataFrame:
    """host_cap's mega-host scale path: top-N is associative under
    union, so phase 1 ranks within (host, salt) shards — no single task
    ever sorts more than 1/salt_buckets of a viral host — and keeps
    ``cap`` rows per shard; phase 2 re-ranks the <= salt_buckets * cap
    survivors per host (a tiny window) for the exact global top-``cap``
    with ranks identical to the single-window form (driver-verified as
    the 'salted' variant of the host_cap row)."""
    from pyspark.sql import Window
    base = df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.regexp_extract(F.col(url_col), HOST_RE, 1).alias("host"),
        F.octet_length(F.col(text_col)).cast("long").alias("n_chars"),
        F.pmod(F.xxhash64(F.col("doc_id").cast("string")),
               F.lit(salt_buckets)).alias("salt"))
    w1 = Window.partitionBy("host", "salt").orderBy(
        F.col("n_chars").desc(), F.col("doc_id"))
    pre = (base.withColumn("r1", F.row_number().over(w1))
           .filter(F.col("r1") <= cap).drop("r1", "salt"))
    w2 = Window.partitionBy("host").orderBy(F.col("n_chars").desc(),
                                            F.col("doc_id"))
    return (pre.withColumn("rank", F.row_number().over(w2).cast("int"))
            .filter(F.col("rank") <= cap))


def boilerplate_lines(df: DataFrame, text_col: str = "text",
                      min_docs: int = 2) -> DataFrame:
    """Lines (newline-delimited) appearing in >= ``min_docs`` distinct
    documents — the CCNet-style cross-document boilerplate signal (nav
    bars, cookie banners, footers repeat across a site; body text does
    not).  One explode + one two-level distinct-count aggregation."""
    lines = df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(F.split(F.col(text_col), "\n")).alias("line"))
    return (lines.groupBy("line")
            .agg(F.count_distinct("doc_id").cast("long").alias("n_docs"))
            .filter(F.col("n_docs") >= min_docs))


def remove_boilerplate(df: DataFrame, text_col: str = "text",
                       min_docs: int = 2,
                       build_hint: str = "auto") -> DataFrame:
    """Drop cross-document duplicate lines from each document, preserving
    line order — the CCNet paragraph-dedup shape.  Plan: posexplode ->
    distinct-count per line -> left join the duplicate-line set back ->
    re-assemble per doc with an ordered in-array filter.  Every document
    survives (a fully-boilerplate doc becomes the empty string).  The
    duplicate-line table is the join's build side; it IS the corpus's
    boilerplate, so its size scales with the crawl — ``build_hint``
    gates the strategy (see :func:`hinted`)."""
    lines = df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"))
    dup = boilerplate_lines(df, text_col, min_docs).select("line")
    marked = lines.join(
        hinted(dup.withColumn("is_dup", F.lit(True)), build_hint),
        "line", "left")
    assembled = F.array_join(
        F.transform(
            F.filter(F.array_sort(F.collect_list(F.struct("pos", "line",
                                                          "is_dup"))),
                     lambda s: s["is_dup"].isNull()),
            lambda s: s["line"]),
        "\n")
    return (marked.groupBy("doc_id")
            .agg(assembled.alias("clean_text")))


# engine-portable redaction patterns (same RE2/Java semantics): email and
# a permissive international phone shape
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+[0-9][0-9() -]{7,}[0-9]"


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub emails and international-format phone numbers from the text
    column — the standard pre-training hygiene pass.  Two native
    regexp_replace calls, zero shuffle; the patterns are RE2-compatible so
    the DuckDB oracle applies byte-identical rules."""
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE, "<PHONE>")
    return df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        redacted.alias("clean_text"),
        (F.octet_length(t) - F.octet_length(redacted)).cast("long")
        .alias("bytes_removed"))


def jaccard_pairs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Word-set Jaccard between each doc and its doc_id+1 neighbour —
    the exact-similarity primitive; at scale candidates come from LSH
    buckets (see dedup.minhash_*) instead of a cross join."""
    a = df.select(F.col("doc_id").alias("a_id"),
                  F.array_distinct(tokens(F.col(text_col))).alias("a_w"))
    b = df.select((F.col("doc_id") - 1).alias("b_join"),
                  F.col("doc_id").alias("b_id"),
                  F.array_distinct(tokens(F.col(text_col))).alias("b_w"))
    j = a.join(b, a.a_id == b.b_join)
    inter = F.size(F.array_intersect("a_w", "b_w"))
    union = F.size(F.array_union("a_w", "b_w"))
    return j.select(
        F.col("a_id").cast("string").alias("doc_id"),
        F.col("b_id").cast("string").alias("other_id"),
        F.round((inter / union).cast("double"), 4).alias("jaccard"),
    )
