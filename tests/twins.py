"""Reference twins used only by differential tests.

Each function is an older or literal shape of a package operator; the
tests assert that the package's path reproduces it exactly.  They live
here, not in the package, because no pipeline calls them.  Test modules
are not shipped to Python workers, so nothing here may run inside a
``mapInPandas`` / ``mapInArrow`` closure: Python twins run in the driver
on collected data.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, functions as F

from warc2text_spark.functions.textextract import _C_ISSPACE, _NL
from warc2text_spark.operators.extract import _clean_doc
from warc2text_spark.operators.textops import (SIMHASH64_BIT_SETS, WINNOW_B,
                                               WINNOW_M, _simhash64_fold,
                                               tokens)
from warc2text_spark.operators.selection import (CLF_BUCKETS, _dsir_buckets,
                                                 _py_tokens, clf_prob_col,
                                                 train_quality_classifier)


def surprisal_loop_kernel(pdf, freq: dict, denom_ln: float,
                          id_col: str, text_col: str):
    """Reference-shaped per-token twin of
    :func:`~warc2text_spark.operators.selection.unigram_surprisal`: one
    interpreted loop over every token of a pandas frame."""
    import pandas as pd

    log1p_cache = {w: math.log(c + 1) for w, c in freq.items()}
    ids, ns, scores = [], [], []
    for did, text in zip(pdf[id_col], pdf[text_col]):
        toks = _py_tokens(text)
        if not toks:
            continue
        s = 0.0
        for w in toks:
            s += log1p_cache.get(w, 0.0)
        ids.append(str(did))
        ns.append(len(toks))
        scores.append(round(denom_ln - s / len(toks), 6))
    return pd.DataFrame({id_col: ids, "n_tokens": ns, "surprisal": scores})


def embedding_near_duplicates_cross(df: DataFrame,
                                    threshold: float = 0.999) -> DataFrame:
    """Literal all-pairs crossJoin twin of
    :func:`~warc2text_spark.operators.dedup.embedding_near_duplicates_grid`
    (tiny frames only)."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = df.select(F.col("vec_id"), v.alias("v"),
                     F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
                     .alias("norm"))
    a = base.select(F.col("vec_id").alias("a_id"), F.col("v").alias("a_v"),
                    F.col("norm").alias("a_n"))
    b = base.select(F.col("vec_id").alias("b_id"), F.col("v").alias("b_v"),
                    F.col("norm").alias("b_n"))
    j = a.crossJoin(b).filter(F.col("a_id") < F.col("b_id"))
    dot = F.aggregate(F.zip_with("a_v", "b_v", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    cos = dot / (F.col("a_n") * F.col("b_n"))
    # filter-then-round, matching the oracle (see the LSH variant)
    return (j.filter(cos >= threshold)
            .select(F.col("a_id").cast("long"), F.col("b_id").cast("long"),
                    F.round(cos, 4).alias("cosine")))


def dsir_logweights_joined(docs: DataFrame, target: DataFrame,
                           text_col: str = "text", id_col: str = "doc_id",
                           n_buckets: int = 10_000,
                           alpha: float = 0.5) -> DataFrame:
    """r6 reference shape of the DSIR scoring pass (explode + broadcast
    lambda join + per-doc aggregate + ids join) — the fold projection's
    differential twin; the fold must reproduce these doubles
    bit-for-bit."""
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
    spark = docs.sparkSession
    lam = (spark.createDataFrame(lam_rows, "bkt long, lam double")
           if lam_rows else spark.createDataFrame([], "bkt long, lam double"))
    per_doc = (_dsir_buckets(docs, text_col, id_col, n_buckets)
               .join(F.broadcast(lam), "bkt", "left")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).cast("long").alias("n_grams"),
                    F.round(F.sum(F.coalesce(F.col("lam"),
                                             F.lit(lam0))), 6)
                    .alias("dsir_logw")))
    ids = docs.select(id_col)
    return (ids.join(per_doc, id_col, "left")
            .select(id_col,
                    F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                    F.coalesce("dsir_logw", F.lit(0.0))
                    .alias("dsir_logw")))


def quality_classifier_score_joined(docs: DataFrame,
                                    text_col: str = "text",
                                    id_col: str = "doc_id") -> DataFrame:
    """r6 reference shape of the classifier scoring pass (explode +
    broadcast weight join + map-side per-doc sum) — the fold path's
    differential twin; the fold must reproduce these doubles
    bit-for-bit."""
    weights, bias = train_quality_classifier()
    spark = docs.sparkSession
    rows = sorted(weights.items())
    w = (spark.createDataFrame(rows, "bkt long, wgt double") if rows
         else spark.createDataFrame([], "bkt long, wgt double"))
    per_doc = (_dsir_buckets(docs.select(id_col, text_col), text_col,
                             id_col, CLF_BUCKETS)
               .join(F.broadcast(w), "bkt", "left")
               .groupBy(id_col)
               .agg(F.sum(F.coalesce(F.col("wgt"), F.lit(0.0)))
                    .alias("_s")))
    ids = docs.select(id_col)
    logit = F.round(F.lit(float(bias)) + F.coalesce(F.col("_s"),
                                                    F.lit(0.0)), 6)
    return (ids.join(per_doc, id_col, "left")
            .select(id_col, logit.alias("clf_logit"))
            .select(id_col, "clf_logit",
                    clf_prob_col().alias("clf_prob")))


def trim_lines_copy_loop(data: bytes) -> bytes:
    """Reference-shaped byte loop of
    :func:`~warc2text_spark.functions.textextract.trim_lines_copy`."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        if data[i] in _C_ISSPACE:
            i += 1
            continue
        line_end = data.find(b"\n", i)
        if line_end < 0:
            line_end = n
        text_end = line_end
        while text_end > i and data[text_end - 1] in _C_ISSPACE:
            text_end -= 1
        if text_end > i:
            out += data[i:text_end]
            out.append(_NL)
        i = line_end
    return bytes(out)


def winnow_fingerprints_expr(df: DataFrame, text_col: str = "text",
                             k: int = 5, w: int = 4) -> DataFrame:
    """Catalyst expression twin of
    :func:`~warc2text_spark.operators.textops.winnow_fingerprints` (same
    outputs; interpreted HOF tree, ~100x slower)."""
    t = F.col(text_col)
    n = F.greatest(F.length(t) - (k - 1), F.lit(1))
    gram_hash = lambda i: F.aggregate(  # noqa: E731
        F.sequence(F.lit(0), F.lit(k - 1)),
        F.lit(0).cast("long"),
        lambda acc, j: (acc * WINNOW_B + F.ascii(F.substring(t, i + j, 1)))
        % WINNOW_M)
    hashes = F.transform(F.sequence(F.lit(1), n), gram_hash)
    n_win = F.greatest(F.size(hashes) - (w - 1), F.lit(1))
    selected = F.array_distinct(F.transform(
        F.sequence(F.lit(1), n_win),
        lambda j: F.array_min(F.slice(hashes, j, w))))
    return df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(selected).alias("fp"),
    )


def minhash_signatures_py(text: str | None, bands: int = 4,
                          k: int = 3) -> list[str | None]:
    """Python twin of
    :func:`~warc2text_spark.operators.dedup.minhash_signatures` for one
    text: the md5 of every word k-gram shingle (a text of fewer than k
    space-separated words is its own single shingle), then per band b the
    string-min of hex digits 4b .. 4b+8 of those digests.  A null text
    has null signatures."""
    if text is None:
        return [None] * bands
    w = text.split(" ")
    sh = ([" ".join(w[i:i + k]) for i in range(len(w) - k + 1)]
          if len(w) >= k else [text])
    hs = [hashlib.md5(s.encode("utf-8")).hexdigest() for s in sh]
    return [min(h[4 * b:4 * b + 8] for h in hs) for b in range(bands)]


def simhash64_sets(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Membership-set reference shape of
    :func:`~warc2text_spark.operators.textops.simhash64` (the form its
    DuckDB oracle mirrors)."""
    w = tokens(F.col(text_col))
    hashes = F.transform(w, lambda x: F.md5(x))
    zeros = F.array_repeat(F.lit(0), 64)

    def evidence(h, i):
        # i is 1-based slot index (Column); nibble = (i-1)//4 + 1, bit p =
        # (i-1)%4 selects the membership set
        nib = h.substr(((i - 1) / 4).cast("int") + 1, F.lit(1))
        p = (i - 1) % 4
        hit = (
            F.when(p == 0, nib.isin(*SIMHASH64_BIT_SETS[0]))
            .when(p == 1, nib.isin(*SIMHASH64_BIT_SETS[1]))
            .when(p == 2, nib.isin(*SIMHASH64_BIT_SETS[2]))
            .otherwise(nib.isin(*SIMHASH64_BIT_SETS[3]))
        )
        return F.when(hit, F.lit(1)).otherwise(F.lit(-1))

    counts = F.aggregate(
        hashes, zeros,
        lambda acc, h: F.zip_with(
            acc, F.sequence(F.lit(1), F.lit(64)),
            lambda a, i: a + evidence(h, i)))
    return _simhash64_fold(df, counts, text_col)


def clean_one_doc(row: dict, tag_filters, opts):
    """Kernel 1's per-document path over a dict-shaped row (the fuzz and
    charset tests): ``(charset, err, plaintext, spans)`` of
    :func:`~warc2text_spark.operators.extract._clean_doc`."""
    spans = [(s.get("kind"), s.get("text"), s.get("media_ref"),
              s.get("offset")) for s in (row.get("spans") or [])]
    return _clean_doc(row.get("url"), row.get("http_ct"),
                      row.get("content_enc"), row.get("transfer_enc"),
                      spans, tag_filters, opts)[:4]


def fingerprint_py(text, gram: int = 5):
    """Literal twin of :func:`~warc2text_spark.operators.textops.fingerprint`:
    min md5 over ``substring(text, i, gram)`` for ``i`` in 1 ..
    max(octet_length - (gram - 1), 1) — positions past the last
    character hash the empty string."""
    if text is None:
        return None
    n = max(len(text.encode("utf-8")) - (gram - 1), 1)
    return min(hashlib.md5(text[i:i + gram].encode("utf-8")).hexdigest()
               for i in range(n))
