"""Deduplication operators for web-scale corpora.

Scale design notes (the part that matters at 10^12 docs):

* exact dedup is a single hash-partitioned groupBy on a 128-bit digest —
  map-side partial aggregation makes the shuffle carry one row per distinct
  digest per partition;
* MinHash+LSH turns near-dup detection into an equality join: per doc a
  constant number of band signatures (computed as per-row array expressions,
  no explode, no shuffle), then a self-join per band on the band value.
  Band buckets are tiny, so AQE handles the residual skew; the quadratic
  explosion of a similarity cross-join never happens;
* embedding near-dup: the exact path is an epsilon-grid equality join;
  the scale path is the same LSH trick over random-hyperplane sign bits
  (similarity.py).  Every pair operator builds its candidates with one
  self-join (_self_pairs); the LSH and grid paths verify cosines with
  _cosine_verified, semdedup with the same _cosine expression.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import _as_double, _dot, _norm, lsh_bucket
from .textops import bind, simhash64, tokens

# ---------------------------------------------------------------------------
# intermediate materialization — the pair operators below compute an
# expensive per-row projection (md5-over-shingles / hyperplane dot products)
# that BOTH sides of a self-join derive from; without a lineage break
# Catalyst re-evaluates it per side.  `materialize=` picks the break:
#
#   "cache"   persist() — caller releases with release_intermediates(result)
#             (or spark.catalog.clearCache() / session end);
#   None      no break — Catalyst re-evaluates per join side (only sane
#             when the projection is trivial).
# ---------------------------------------------------------------------------


def _lineage_break(df: DataFrame, materialize: str | None):
    if materialize == "cache":
        p = df.persist()
        return p, [p]
    if materialize is None:
        return df, []
    raise ValueError(
        f'materialize must be "cache" or None, got {materialize!r}')


def _attach(result: DataFrame, cached: list) -> DataFrame:
    if cached:
        result._w2t_cached = cached
    return result


def _self_pairs(rows: DataFrame, on: list[str], id_col: str,
                carry: dict[str, str] | None = None,
                b_rows: DataFrame | None = None) -> DataFrame:
    """The banded self-join every pair operator shares: two rows meeting
    on equal ``on`` keys become one (a_id, b_id) pair with a_id < b_id.
    ``carry`` ({suffix: column}) rides along as a_<suffix> / b_<suffix>;
    ``b_rows`` replaces ``rows`` on the b side when the two sides key
    differently (the grid joins neighbour cells to home cells)."""
    def side(p: str, df: DataFrame) -> DataFrame:
        return df.select(F.col(id_col).alias(f"{p}_id"),
                         *[F.col(c).alias(f"{p}_{k}")
                           for k, c in (carry or {}).items()], *on)
    b = rows if b_rows is None else b_rows
    return (side("a", rows).join(side("b", b), on)
            .filter(F.col("a_id") < F.col("b_id")))


def _cosine():
    """cos(a, b) over the a_v/a_n, b_v/b_n (vector, norm) pair columns."""
    return _dot(F.col("a_v"), F.col("b_v")) / (F.col("a_n") * F.col("b_n"))


def _cosine_verified(cand: DataFrame, base: DataFrame,
                     threshold: float) -> DataFrame:
    """Join candidate (a_id, b_id) pairs back to base's (vec_id, v, norm)
    and keep ``cos >= threshold`` — vectors never ride the candidate
    shuffle.  Filter on the UNROUNDED cosine and round only in the
    projection, the same filter-then-round shape as the crossJoin twin
    and the DuckDB oracle (rounding first would admit cosines in
    [threshold - 5e-5, threshold) that the true value rejects)."""
    def vecs(p: str) -> DataFrame:
        return base.select(F.col("vec_id").alias(f"{p}_id"),
                           F.col("v").alias(f"{p}_v"),
                           F.col("norm").alias(f"{p}_n"))
    cos = _cosine()
    return (cand.join(vecs("a"), "a_id").join(vecs("b"), "b_id")
            .filter(cos >= threshold)
            .select(F.col("a_id").cast("long"), F.col("b_id").cast("long"),
                    F.round(cos, 4).alias("cosine")))


def release_intermediates(df: DataFrame) -> None:
    """Unpersist the intermediates a pairs query cached (materialize="cache").
    Safe to call on any DataFrame; a no-op when nothing was cached."""
    for c in getattr(df, "_w2t_cached", ()):
        c.unpersist()


def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical texts: (text_hash, dup_count, min_doc_id)."""
    return (
        df.select(F.col("doc_id"), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("dup_count"),
             F.min(F.col("doc_id").cast("string")).alias("min_doc_id"))
        .filter(F.col("dup_count") > 1)
    )


def word_grams(w: Column, text: Column, k: int = 3) -> Column:
    """Word k-gram shingles of ``text`` from its token array ``w``; a
    text of fewer than k words is its own single shingle.  ``w`` must be
    evaluated once per row (a ``textops.bind`` variable): indexing a
    split inside the per-shingle lambda would re-split the whole text for
    every shingle."""
    n = F.size(w)
    return F.when(
        n >= k,
        F.transform(F.sequence(F.lit(1), n - (k - 1)),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(w, i + j) for j in range(k)])),
    ).otherwise(F.array(text))


def shingles(text_col: str = "text", k: int = 3):
    """Word k-gram shingles as a per-row array expression, the text split
    once per row."""
    t = F.col(text_col)
    return bind(tokens(t), lambda w: word_grams(w, t, k))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       bands: int = 4) -> DataFrame:
    """Per-doc MinHash band signatures.

    ONE md5 per shingle; band b takes the minimum over shingles of the
    8-hex-char window starting at hex digit 4b of that digest — b
    statistically independent hash families for the price of one digest
    (the md5-per-band variant costs bands x the hashing and dominated the
    whole query).  String-min over hex windows is engine-portable and
    deterministic.
    """
    hashes = F.transform(shingles(text_col), lambda s: F.md5(s))
    with_h = df.select(F.col("doc_id"), hashes.alias("hs"))

    def band_sig(b: int):
        # plain closure — a defaulted second lambda param would be bound to
        # the array index by F.transform
        start = 1 + 4 * b
        return F.array_min(F.transform(
            F.col("hs"), lambda h: F.substring(h, start, 8)))

    cols = [F.col("doc_id").cast("string").alias("doc_id")]
    for b in range(bands):
        cols.append(band_sig(b).alias(f"sig{b}"))
    return with_h.select(*cols)


def minhash_candidate_pairs(df: DataFrame, text_col: str = "text",
                            bands: int = 4,
                            materialize: str | None = "cache") -> DataFrame:
    """Near-duplicate candidate pairs: docs sharing any band signature.

    ONE equality self-join on (band, sig) over the exploded signature rows
    — signatures are computed once (not re-evaluated per join side), and
    the whole LSH bucket join costs a single shuffle regardless of the
    number of bands.  Bucket skew (a viral boilerplate signature) is
    handled by AQE skew-join splitting."""
    sigs = minhash_signatures(df, text_col, bands)
    # r7: (band, sig-hex-string) packed into ONE long join key —
    # band << 32 | sig-as-uint32 (conv is exact for 8 hex chars, and
    # the packing is injective, so key equality == (band, sig)
    # equality).  Halves the bytes the banded self-join shuffles /
    # broadcasts per row and joins on a long instead of a string; the
    # candidate pair set is unchanged (null sigs drop from the join in
    # both shapes).
    keys = F.array(*[
        (F.lit(b).cast("long") * F.lit(1 << 32).cast("long")
         + F.conv(F.col(f"sig{b}"), 16, 10).cast("long")).alias("key")
        for b in range(bands)])
    long = sigs.select("doc_id", F.explode(keys).alias("key"))
    long, cached = _lineage_break(long, materialize)
    out = (_self_pairs(long, ["key"], "doc_id")
           .select("a_id", "b_id").distinct())
    return _attach(out, cached)


def minhash_verified_pairs(df: DataFrame, text_col: str = "text",
                           bands: int = 4, threshold: float = 0.8,
                           gram: int = 3,
                           materialize: str | None = "cache") -> DataFrame:
    """The complete MinHash dedup pipeline: LSH candidate pairs -> exact
    word-shingle-set Jaccard verification -> ``jaccard >= threshold``.

    Candidates come from minhash_candidate_pairs (one bucket self-join,
    never all-pairs); verification joins the (few) candidates back to the
    distinct-shingle arrays — two hash joins whose build side is the
    LSH-pruned pair list, so the expensive exact comparison runs on
    ~duplicates only.  Filter on the unrounded Jaccard, round in the
    projection (the oracle's filter-then-round shape)."""
    cand = minhash_candidate_pairs(df, text_col, bands, materialize)
    sh = df.select(F.col("doc_id").cast("string").alias("doc_id"),
                   F.array_distinct(shingles(text_col, gram)).alias("sh"))
    a = sh.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh"))
    b = sh.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"))
    j = cand.join(a, "a_id").join(b, "b_id")
    jac = (F.size(F.array_intersect("a_sh", "b_sh"))
           / F.size(F.array_union("a_sh", "b_sh")))
    out = (j.filter(jac >= threshold)
           .select("a_id", "b_id",
                   F.round(jac.cast("double"), 4).alias("jaccard")))
    return _attach(out, getattr(cand, "_w2t_cached", []))


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       max_hamming: int = 3,
                       materialize: str | None = "cache") -> DataFrame:
    """SimHash near-duplicate pairs: band the 64-bit signature into eight
    byte-wide keys, equality-join per band (one shuffle for all bands,
    same shape as minhash_candidate_pairs), then filter candidates by
    Hamming distance.  Complements MinHash: SimHash respects token
    *frequency* where MinHash sees the shingle *set*.

    256 buckets per band keep candidate volume ~N^2/256 per band (a
    16-bucket band degenerates toward all-pairs at corpus scale).  By the
    pigeonhole principle eight bands of 8 bits catch every pair with
    Hamming <= 7, so max_hamming=3 loses no recall.  Candidate skew per
    bucket is handled by AQE skew-join splitting, like the MinHash
    join."""
    n_bands, width, mask = 8, 8, 255
    sigs = simhash64(df, text_col)
    # r7: (band, masked band value) packed into ONE long join key —
    # band * (mask+1) + val, injective because val <= mask (the shifted
    # value is masked, so arithmetic-shift fill bits never leak into the
    # packing).  One join column instead of two; candidate set unchanged.
    bands = F.array(*[
        (F.lit(b * (mask + 1)).cast("long")
         + F.shiftright(F.col("simhash"), width * b)
         .bitwiseAND(F.lit(mask))).alias("key")
        for b in range(n_bands)])
    long = sigs.select("doc_id", "simhash", F.explode(bands).alias("key"))
    # signatures are md5-over-tokens: compute once, not per join side
    long, cached = _lineage_break(long, materialize)
    ham = F.bit_count(F.col("a_sig").bitwiseXOR(F.col("b_sig")))
    out = (_self_pairs(long, ["key"], "doc_id", {"sig": "simhash"})
           .filter(ham <= max_hamming)
           .select("a_id", "b_id", ham.cast("int").alias("hamming"))
           .distinct())
    return _attach(out, cached)


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Near-dup clusters from a pair list: label propagation to the
    minimum (string) doc_id reachable in each component — the step that
    turns candidate/verified pairs into \"keep one representative per
    cluster\".  Returns (doc_id, cluster_id) for every doc appearing in a
    pair; the representative is the doc whose id == cluster_id.

    Each iteration is one join + one map-side-combined groupBy over the
    (id, label) frame — labels and edges only, payloads never move.
    Convergence needs D iterations for component diameter D; near-dup
    components are shallow (clones cluster around one source), so the
    driver loop usually exits after 2-3 rounds via the zero-changes check
    (a one-scalar action per round, not a data collect).  The iterative
    fixpoint is inherently non-SQL-single-query; the DuckDB oracle uses a
    recursive CTE over the same edges."""
    if max_iter < 1:
        # changed starts at 0, so max_iter=0 would skip both the loop and
        # the non-convergence guard and return unpropagated labels
        raise ValueError("max_iter must be >= 1")
    sym = (pairs.select(F.col("a_id").cast("string").alias("src"),
                        F.col("b_id").cast("string").alias("dst"))
           .union(pairs.select(F.col("b_id").cast("string"),
                               F.col("a_id").cast("string"))))
    # localCheckpoint (eager) TRUNCATES lineage each round — without it
    # every iteration's plan nests the previous one and Catalyst analysis
    # time explodes exponentially (the standard iterative-algorithm trap;
    # on a cluster with unreliable executors use checkpoint() to a
    # reliable store instead)
    sym = sym.localCheckpoint(eager=True)
    labels = (sym.select(F.col("src").alias("id")).distinct()
              .withColumn("label", F.col("id"))
              .localCheckpoint(eager=True))
    changed = 0
    for _ in range(max_iter):
        nbr = (sym.join(labels.select(F.col("id").alias("dst"),
                                      F.col("label").alias("dlabel")),
                        "dst")
               .groupBy("src").agg(F.min("dlabel").alias("nbr")))
        new_labels = (labels.join(nbr, labels.id == nbr.src, "left")
                      .select(labels.id,
                              F.least(F.col("label"),
                                      F.coalesce(F.col("nbr"),
                                                 F.col("label")))
                              .alias("label"))
                      .localCheckpoint(eager=True))
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "id")
                   .filter(F.col("n.label") != F.col("o.label")).count())
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # a component with diameter > max_iter would otherwise silently
        # split clusters and disagree with the recursive-CTE oracle —
        # truncation must never be silent.  NB convergence is only
        # CONFIRMED by a zero-change round, so max_iter must exceed the
        # deepest component's diameter by one; a graph that finishes
        # propagating exactly on the last round still raises here
        # (conservative by design — correctness was not verified).
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            f"iterations ({changed} labels still changing); raise max_iter "
            "— near-dup graphs this deep usually signal a degenerate "
            "pair-generation step")
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def embedding_near_duplicates_lsh_multi(df: DataFrame,
                                        hyperplanes: list[list[float]],
                                        n_tables: int = 2,
                                        threshold: float = 0.999,
                                        materialize: str | None = "cache"
                                        ) -> DataFrame:
    """Multi-table embedding LSH near-dup: the hyperplanes are split into
    ``n_tables`` independent bucket tables; candidate pairs are the union
    of each table's bucket join (the band trick).  A near-identical pair
    straddling one table's bucket boundary (a dot product near 0 flips a
    sign bit) is recovered by any table where no boundary is straddled —
    miss probability decays exponentially with tables.  With B bits per
    table a bucket join touches ~N^2/2^B candidate pairs instead of N^2 —
    the 10^12-row path (:func:`embedding_near_duplicates_grid` is exact).

    Plan shape: ONE equality self-join on (table, bucket) over ids only
    (same as minhash_candidate_pairs — vectors never ride the candidate
    shuffle), then the few candidates join back to the persisted vector
    projection for the exact-cosine filter (filter-then-round).
    ``n_tables=1`` is the single-table path: one B-bit bucket key."""
    if len(hyperplanes) % n_tables:
        raise ValueError("len(hyperplanes) must divide into n_tables")
    fam = len(hyperplanes) // n_tables
    v = _as_double(F.col("embedding"))
    base = df.select(F.col("vec_id"), v.alias("v"), _norm(v).alias("norm"))
    buckets = F.array(*[
        F.struct(F.lit(t).alias("tbl"),
                 lsh_bucket(F.col("v"), hyperplanes[t * fam:(t + 1) * fam])
                 .alias("bucket"))
        for t in range(n_tables)])
    base = base.withColumn("buckets", buckets)
    base, cached = _lineage_break(base, materialize)

    long = base.select("vec_id", F.explode("buckets").alias("tb")) \
               .select("vec_id", F.col("tb.tbl").alias("tbl"),
                       F.col("tb.bucket").alias("bucket"))
    cand = (_self_pairs(long, ["tbl", "bucket"], "vec_id")
            .select("a_id", "b_id").distinct())
    return _attach(_cosine_verified(cand, base, threshold), cached)


def semdedup(df: DataFrame, centroids: list[list[float]],
             threshold: float = 0.95,
             vec_col: str = "embedding",
             materialize: str | None = "cache") -> DataFrame:
    """SemDeDup (public method, arXiv 2303.09540): cluster embeddings
    against a coarse codebook, compare cosines ONLY within a cluster, and
    keep the smallest-id member of every near-identical group.  Returns
    (vec_id, cluster, kept) for every input vector.

    Scale: assignment is a pure per-row argmin against the broadcast
    codebook (no shuffle, first-index tie-break like ivf_topk); the pair
    stage shuffles once on the cluster key and is quadratic only within a
    cluster — the codebook granularity bounds the largest cluster, which
    is the method's point versus corpus-wide all-pairs.  The removal set
    is ids-only.  The assignment projection is referenced three times
    (both join sides + the final keep join), so it takes the module's
    ``materialize=`` lineage break — without it Catalyst re-evaluates the
    per-row argmin subtree per occurrence.
    """
    v = _as_double(F.col(vec_col))
    d2 = [F.aggregate(
              F.zip_with(v, F.array(*[F.lit(float(x)) for x in c]),
                         lambda a, b: (a - b) * (a - b)),
              F.lit(0.0), lambda acc, x: acc + x)
          for c in centroids]
    darr = F.array(*d2)
    cluster = (F.array_position(darr, F.array_min(darr)) - 1).cast("int")
    base = df.select(
        F.col("vec_id").cast("long").alias("vec_id"), v.alias("v"),
        _norm(v).alias("norm"), cluster.alias("cluster"))
    base, cached = _lineage_break(base, materialize)
    removed = (_self_pairs(base, ["cluster"], "vec_id",
                           {"v": "v", "n": "norm"})
               .filter(_cosine() >= threshold)
               .select(F.col("b_id").alias("vec_id")).distinct()
               .withColumn("rm", F.lit(True)))
    return _attach(
        base.join(removed, "vec_id", "left")
        .select("vec_id", "cluster", F.col("rm").isNull().alias("kept")),
        cached)


def embedding_near_duplicates_grid(df: DataFrame, threshold: float = 0.999,
                                   grid_dims: int = 3,
                                   materialize: str | None = "cache"
                                   ) -> DataFrame:
    """EXACT near-dup pairs without a crossJoin: the epsilon-grid join
    (the grid/cell family of exact epsilon-joins — Böhm et al., "Epsilon
    Grid Order", SIGMOD 2001 — applied to the unit sphere).

    Math: for unit vectors u=x/|x|, w=y/|y|,  cos(x,y) >= t  iff
    ||u-w||^2 = 2-2cos <= 2(1-t) = eps^2.  Since the L2 norm dominates
    every coordinate, a qualifying pair differs by at most eps on EACH
    of the first ``grid_dims`` unit coordinates, so with cells of width
    eps the pair sits within +-1 cell on every gridded dim.  Joining
    side A replicated to its 3^d neighbor cell keys against side B's
    home key is therefore an EXHAUSTIVE candidate set — exactness of
    LSH-free all-pairs, plan shape of a bucketed equality join.  Each
    pair matches exactly one offset tuple (off = cell_b - cell_a), so
    no distinct is needed.

    Scale: the vector projection is computed once (``materialize``
    lineage break, release via :func:`release_intermediates`); the 3^d
    replication carries (id, cell-key string) ONLY — vectors never ride
    the candidate shuffle; the few candidates join back to the persisted
    projection for the exact-cosine filter (filter-then-round).  Cell
    population — hence the largest join bucket — is bounded by corpus
    density at radius eps: tiny for dedup thresholds (t=0.999 =>
    eps≈0.045; a cell holds only near-identical groups, whose quadratic
    cost is inherent in the output itself).  Low thresholds (t < ~0.9)
    widen cells toward a handful of buckets — this operator is for
    near-DUPLICATE ranges, not broad similarity search (that is ANN's
    job).  Zero-norm vectors never pair (the crossJoin twin's NaN
    cosine rejects them too); vectors shorter than ``grid_dims`` are
    excluded up front — the similarity-module malformed-row contract
    (embedding tables are fixed-dim).

    The cell width takes a 1e-9 relative widening so a pair whose true
    distance sits exactly on the eps boundary cannot straddle 2 cells
    through last-ulp rounding of the cell coordinate."""
    import itertools
    import math
    eps = math.sqrt(max(2.0 * (1.0 - threshold), 1e-12))
    cell_w = eps * (1.0 + 1e-9)
    v = _as_double(F.col("embedding"))
    base = (df.filter(F.col("embedding").isNotNull()
                      & (F.size("embedding") >= grid_dims))
            .select(F.col("vec_id").cast("long").alias("vec_id"),
                    v.alias("v"), _norm(v).alias("norm"))
            .filter(F.col("norm") > 0))
    cells = [F.floor(F.element_at("v", i + 1) / (F.col("norm") * cell_w))
             .cast("long") for i in range(grid_dims)]
    base = base.withColumn("cells", F.array(*cells))
    base, cached = _lineage_break(base, materialize)

    home = F.concat_ws(":", *[F.element_at("cells", i + 1).cast("string")
                              for i in range(grid_dims)])
    offsets = list(itertools.product((-1, 0, 1), repeat=grid_dims))
    nkeys = F.array(*[
        F.concat_ws(":", *[(F.element_at("cells", i + 1)
                            + F.lit(off[i])).cast("string")
                           for i in range(grid_dims)])
        for off in offsets])
    cand = _self_pairs(
        base.select("vec_id", F.explode(nkeys).alias("gkey")), ["gkey"],
        "vec_id", b_rows=base.select("vec_id", home.alias("gkey"))
    ).select("a_id", "b_id")
    return _attach(_cosine_verified(cand, base, threshold), cached)
