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
        from .selection import (clf_prob_col, quality_classifier_logit_col,
                                train_quality_classifier)
        weights, bias = train_quality_classifier()
        logit = quality_classifier_logit_col(weights, bias)
        kept = kept.filter(clf_prob_col(logit) >= float(clf_threshold))
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    first = (kept.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == 1).drop("rn"))
    capper = host_cap_salted if salted_hosts else host_cap
    return capper(first, cap)
