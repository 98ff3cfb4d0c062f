"""LSH-bucketed embedding near-dup: the 10^12-row path must agree with the
exact crossJoin baseline on identical-vector clones (which always share a
bucket), and its plan must contain no cartesian product."""

import pytest

from tests.twins import embedding_near_duplicates_cross
from warc2text_spark.operators.dedup import (
    embedding_near_duplicates_grid,
    embedding_near_duplicates_lsh_multi,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    from pyspark.sql import functions as F
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
        .select("vec_id", "embedding")
    extra = e.filter(F.col("vec_id") % 50 == 0) \
             .select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    return e.unionByName(extra)


def _planes(spark):
    from pyspark.sql import functions as F
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return [[float(x) for x in r.embedding] for r in
            e.filter(F.col("vec_id").between(1, 8)).orderBy("vec_id").collect()]


def test_lsh_neardup_matches_exact_on_clones(spark, emb):
    exact = {(r.a_id, r.b_id) for r in
             embedding_near_duplicates_cross(emb).collect()}
    lsh = {(r.a_id, r.b_id) for r in embedding_near_duplicates_lsh_multi(
        emb, _planes(spark), n_tables=1).collect()}
    # identical vectors hash to identical buckets: full recall on clones
    assert lsh == exact and exact  # (this corpus has no borderline pairs)


def test_lsh_neardup_plan_has_no_cartesian_product(spark, emb):
    df = embedding_near_duplicates_lsh_multi(emb, _planes(spark), n_tables=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def _cache_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_materialize_lifecycle_no_lingering_cache(spark, emb):
    from warc2text_spark.operators.dedup import (
        minhash_candidate_pairs,
        release_intermediates,
        simhash_near_pairs,
    )
    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 3} jumps over the lazy dog")
         for i in range(30)], "doc_id long, text string")
    planes = _planes(spark)
    spark.catalog.clearCache()
    for op in (lambda m: minhash_candidate_pairs(docs, materialize=m),
               lambda m: simhash_near_pairs(docs, materialize=m),
               lambda m: embedding_near_duplicates_lsh_multi(
                   emb, planes, n_tables=1, materialize=m)):
        # no lineage break: nothing cached, nothing to release
        out = op(None)
        assert out.count() > 0
        assert _cache_empty(spark)
        # cache: cached while in use, released by the handle
        out = op("cache")
        assert out.count() > 0
        assert not _cache_empty(spark)
        release_intermediates(out)
        assert _cache_empty(spark)


def test_jaccard_pairs_query_releases_its_cache(spark):
    # the driver row unions the adjacent pairs with the LSH-verified
    # pairs; release_intermediates must still free the verified leg
    from warc2text_spark.operators.dedup import release_intermediates
    from warc2text_spark.plans.benchqueries import queries
    spark.catalog.clearCache()
    out = queries()["jaccard_pairs"](spark, SF_DIR)
    assert out.count() > 0
    assert not _cache_empty(spark)
    release_intermediates(out)
    assert _cache_empty(spark)


def test_materialize_rejects_a_path(spark, tmp_path):
    from warc2text_spark.operators.dedup import minhash_candidate_pairs
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    for bad in (str(tmp_path / "sigs"), "path:cache", "./cache"):
        with pytest.raises(ValueError, match="materialize"):
            minhash_candidate_pairs(docs, materialize=bad)
    assert not (tmp_path / "sigs").exists()


def test_simhash64_bands_prune_candidates(spark):
    """The shipped 64-bit/8-bit-band simhash_pairs must not degenerate
    toward all-pairs: on a corpus of distinct docs plus exact clones it
    returns (at least) every clone pair at hamming 0, and under a tenth
    of all pairs."""
    from warc2text_spark.operators.dedup import (
        release_intermediates,
        simhash_near_pairs,
    )
    import random
    rng = random.Random(42)
    vocab = [f"w{j}" for j in range(500)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(40)))
            for i in range(200)]
    rows += [(i + 100000, t) for i, t in rows[:20]]  # 20 exact clones
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    p64 = simhash_near_pairs(docs)
    rows64 = p64.collect()
    release_intermediates(p64)
    # pair order follows STRING doc_id comparison (oracle-consistent);
    # compare order-insensitively here
    got64 = {frozenset((r.a_id, r.b_id)) for r in rows64 if r.hamming == 0}
    clone_pairs = {frozenset((str(i), str(i + 100000))) for i, _ in rows[:20]}
    assert clone_pairs <= got64
    all_pairs = len(rows) * (len(rows) - 1) // 2
    assert len(rows64) < all_pairs / 10, (len(rows64), all_pairs)


def test_simhash64_fast_path_matches_set_twin(spark):
    # the one-word-per-token default must be bit-identical to the
    # membership-set reference shape on adversarial token soup
    import random

    from tests.twins import simhash64_sets
    from warc2text_spark.operators import textops

    rng = random.Random(11)
    pieces = ["word", "été", "x", "", "  ", "a b  c", "ЦЕ", "日本語",
              "123", "!!!", "the quick brown fox"]
    rows = [(i, " ".join(rng.choice(pieces) for _ in range(rng.randint(0, 8))))
            for i in range(80)]
    rows += [(80, None), (81, ""), (82, "a  b"), (83, " x y z "),
             (84, " ".join(rng.choice(pieces) for _ in range(700)))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fast = {r.doc_id: r.simhash
            for r in textops.simhash64(docs).collect()}
    slow = {r.doc_id: r.simhash
            for r in simhash64_sets(docs).collect()}
    assert fast == slow
    assert fast["80"] is None and fast["81"] is not None


def test_multi_table_lsh_recall_superset_and_no_cartesian(spark, emb):
    planes = _planes(spark)
    single = embedding_near_duplicates_lsh_multi(
        emb, planes, n_tables=1, materialize=None)
    multi = embedding_near_duplicates_lsh_multi(
        emb, planes, n_tables=2, materialize=None)
    s = {(r.a_id, r.b_id) for r in single.collect()}
    m = {(r.a_id, r.b_id) for r in multi.collect()}
    exact = {(r.a_id, r.b_id) for r in
             embedding_near_duplicates_cross(emb).collect()}
    # two 4-bit tables are coarser individually but union-ed: recall on
    # clones stays full, and candidates never miss what 8 bits caught
    assert exact <= m and s <= m
    plan = multi._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_connected_components_chains_and_representatives(spark):
    from warc2text_spark.operators.dedup import connected_components
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"),       # 4-chain
         ("x", "y"),                                # pair
         ("m", "n"), ("n", "o"), ("m", "o")],       # triangle
        "a_id string, b_id string")
    got = {r.doc_id: r.cluster_id
           for r in connected_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a",
                   "x": "x", "y": "x",
                   "m": "m", "n": "m", "o": "m"}


def test_grid_exact_matches_crossjoin_twin(spark, emb):
    """The epsilon-grid exact path must reproduce the crossJoin twin
    bit-for-bit (ids AND rounded cosines) — it is the same exact
    computation with a bucketed candidate plan."""
    from warc2text_spark.operators.dedup import release_intermediates
    for t in (0.999, 0.95):
        cross = {(r.a_id, r.b_id, r.cosine) for r in
                 embedding_near_duplicates_cross(emb, t).collect()}
        g = embedding_near_duplicates_grid(emb, t)
        grid = {(r.a_id, r.b_id, r.cosine) for r in g.collect()}
        release_intermediates(g)
        assert grid == cross and grid


def test_grid_exact_dense_circle_boundaries(spark):
    """Unit-circle sweep at 0.6x the threshold angle: chains of
    in-threshold neighbors whose cell coordinates cross many epsilon-cell
    boundaries.  Expected set computed by an independent numpy all-pairs
    reference — the grid must lose nothing at any cell edge."""
    import math

    import numpy as np
    from warc2text_spark.operators.dedup import release_intermediates
    t = 0.999
    th = math.acos(t)
    vecs = [[math.cos(i * 0.6 * th), math.sin(i * 0.6 * th), 0.123]
            for i in range(200)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    g = embedding_near_duplicates_grid(df, t)
    got = {(r.a_id, r.b_id) for r in g.collect()}
    release_intermediates(g)
    m = np.array(vecs)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = m @ m.T
    exp = {(a, b) for a in range(200) for b in range(a + 1, 200)
           if cos[a, b] >= t}
    assert got == exp
    assert len(exp) > 150  # every adjacent pair on the sweep qualifies


def test_grid_exact_plan_has_no_cartesian_product(spark, emb):
    from warc2text_spark.operators.dedup import release_intermediates
    df = embedding_near_duplicates_grid(emb)
    plan = df._jdf.queryExecution().executedPlan().toString()
    release_intermediates(df)
    assert "CartesianProduct" not in plan \
        and "BroadcastNestedLoopJoin" not in plan
