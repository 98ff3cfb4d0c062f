"""End-to-end corpus-curation sweep: the composition a training-data
pipeline actually runs — quality gate, then exact dedup, then domain-mix
cap — expressed purely in the operators this package already ships, so the
whole sweep stays native Catalyst (three shuffles total: the dedup window,
the host window, plus gopher's zero).

    docs (doc_id, url, text)
      -> gopher_rules(...).pass           [per-row projection, no shuffle]
      -> exact dedup, first doc_id wins   [window over md5(text)]
      -> host_cap(cap)                    [window over host]

Each stage is individually oracle-verified; the composed sweep has its own
chained DuckDB twin (plans/benchqueries 'curate').
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textops import gopher_rules, host_cap, host_cap_salted


def curate(docs: DataFrame, cap: int = 5, salted_hosts: bool = True,
           clf_threshold: float | None = None,
           **gopher_kwargs) -> DataFrame:
    """Quality-gate -> dedup-keep-first -> per-host cap over
    (doc_id, url, text) rows; returns host_cap's (doc_id, host, n_chars,
    rank).  Keep-first uses STRING doc_id order (engine-portable, same
    rule as the pair operators).

    ``salted_hosts`` (default) routes the cap through the two-phase
    :func:`host_cap_salted` — exact same output (top-N is associative
    under union; driver-verified on the host_cap row), but no single
    task ever sorts more than 1/salt_buckets of a viral mega-host, so
    the composed sweep inherits the skew-proof path at crawl scale.
    ``salted_hosts=False`` keeps the single-window form for tiny inputs
    where two window stages cost more than the skew they prevent.

    ``clf_threshold`` (late r6) adds the TRAINED quality-classifier
    gate on top of the rule gate: documents must also score
    ``clf_prob >= clf_threshold`` under the hashed-ngram logistic
    model.  r7: classifier scoring is a pure projection
    (selection.quality_classifier_logit_col), so the gate composes as a
    plain FILTER on the rule survivors — no survivors join, no second
    ids join, zero extra shuffles (the r6 shape joined docs back to the
    rule-passing ids, scored, and joined the passing ids again); it
    still scores rule-gate survivors only (the filter sits above the
    rule-ids join — review r6 finding preserved).  None (default)
    keeps the sweep rule-gated only."""
    passing = gopher_rules(docs, **gopher_kwargs) \
        .filter(F.col("pass")).select("doc_id")
    base = docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                       "url", "text")
    kept = base.join(passing, "doc_id")
    if clf_threshold is not None:
        from .selection import (CLF_BUCKETS, _resolve_clf_model,
                                clf_prob_col, quality_classifier_logit_col)
        weights, bias = _resolve_clf_model(None, None, CLF_BUCKETS)
        logit = quality_classifier_logit_col(weights, bias)
        kept = kept.filter(clf_prob_col(logit) >= float(clf_threshold))
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    first = (kept.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == 1).drop("rn"))
    capper = host_cap_salted if salted_hosts else host_cap
    return capper(first, cap)


def build_training_set(docs: DataFrame, cap: int = 5,
                       keep_tiles: tuple = (1, 2), alpha: float = 0.3,
                       window: int = 512, salt: str = "epoch0",
                       materialize: str | None = "cache",
                       **gopher_kwargs) -> DataFrame:
    """The full training-set build, end to end, out of the operators
    this package ships — the composition a pre-training data pipeline
    actually runs after extraction:

        curate (gopher gate -> exact dedup keep-first -> host cap)
          -> unigram surprisal + CCNet per-language perplexity terciles
          -> keep ``keep_tiles`` (default head + middle, drop the tail)
          -> alpha-sampling mix weights per language
          -> deterministic epoch shuffle (``salt`` = epoch)
          -> sequence packing in shuffle order (``window`` tokens)

    Returns one row per selected document: (doc_id, lang, n_tokens,
    surprisal, ppl_bucket, mix_weight, mix_boost, shuffle_pos,
    start_offset, chunk_id, chunk_offset) — everything a training
    loader needs to stream the epoch.  A NULL language becomes the
    ``'und'`` stratum (the lang equi-joins would otherwise silently
    drop those rows).  Every stage keeps its individually verified
    scale shape; the composition adds only id joins — and because the
    curate/score/shuffle subtrees are each referenced by more than one
    downstream branch (plus the scorer's eager head-vocabulary
    collect), they get the package's standard lineage break
    (``materialize=`` as in the dedup pair ops: "cache" persists,
    release with :func:`warc2text_spark.operators.dedup.
    release_intermediates`; None re-evaluates — only sane for tiny
    inputs)."""
    from .dedup import _attach, _lineage_break
    from .selection import (ccnet_buckets, global_shuffle,
                            mixing_weights, unigram_surprisal)
    from .textops import pack_sequences

    kept_ids = curate(docs, cap=cap, **gopher_kwargs).select("doc_id")
    base = docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                       F.coalesce(F.col("lang"), F.lit("und"))
                       .alias("lang"), "text").join(kept_ids, "doc_id")
    base, cached_b = _lineage_break(base, materialize)
    scored = unigram_surprisal(base).join(
        base.select("doc_id", "lang"), "doc_id")
    sel = ccnet_buckets(scored).filter(
        F.col("ppl_bucket").isin(*[int(t) for t in keep_tiles]))
    sel, cached_s = _lineage_break(sel, materialize)
    shuffled = global_shuffle(
        sel.join(mixing_weights(sel, "lang", size_col="n_tokens",
                                alpha=alpha), "lang"),
        salt=salt)
    shuffled, cached_h = _lineage_break(shuffled, materialize)
    packed = pack_sequences(
        shuffled.select(F.col("shuffle_pos").alias("doc_id"),
                        "n_tokens"),
        window=window, n_tokens_col="n_tokens") \
        .select(F.col("doc_id").cast("long").alias("shuffle_pos"),
                "start_offset", "chunk_id", "chunk_offset")
    out = shuffled.join(packed, "shuffle_pos").select(
        "doc_id", "lang", "n_tokens", "surprisal", "ppl_bucket",
        "mix_weight", "mix_boost", "shuffle_pos", "start_offset",
        "chunk_id", "chunk_offset")
    return _attach(out, cached_b + cached_s + cached_h)
