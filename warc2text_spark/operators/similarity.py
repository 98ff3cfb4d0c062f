"""Similarity search over embedding columns.

* ``cosine_topk`` — brute-force exact top-k (the correctness baseline);
  one pass over the table, no shuffle besides the final top-k (a global
  sort limited to k, which Spark executes as per-partition top-k + merge —
  TakeOrderedAndProject, not a full sort).
* ``lsh_bits`` / ``lsh_topk`` — random-hyperplane LSH: sign bits of dot
  products against a fixed set of hyperplane vectors give a bucket key;
  candidates come from the query's bucket only.  At 10^12 rows the bucket
  join replaces the full scan; hyperplanes here are rows of the embedding
  table itself (deterministic, engine-portable) — a production deployment
  would broadcast a fixed random matrix instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_scores(df: DataFrame, query: list[float],
                  vec_col: str = "embedding") -> DataFrame:
    """(vec_id, cosine vs the broadcast query vector) — exact, one scan."""
    q = F.array(*[F.lit(float(x)) for x in query])
    v = _as_double(F.col(vec_col))
    cos = _dot(v, q) / (_norm(v) * _norm(q))
    return df.select(F.col("vec_id").cast("long").alias("vec_id"),
                     cos.alias("cosine"))


def cosine_topk(df: DataFrame, query: list[float], k: int = 10,
                vec_col: str = "embedding") -> DataFrame:
    scored = cosine_scores(df, query, vec_col)
    return (scored.orderBy(F.col("cosine").desc(), F.col("vec_id"))
            .limit(k)
            .select("vec_id", F.round("cosine", 4).alias("cosine")))


def lsh_bucket(v, hyperplanes: list[list[float]]) -> Column:
    """Bucket key of a double-array column: concatenated sign bits of
    <v, h_i>."""
    return F.concat(*[
        F.when(_dot(v, F.array(*[F.lit(float(x)) for x in h])) > 0,
               F.lit("1")).otherwise(F.lit("0"))
        for h in hyperplanes])


def lsh_bits(df: DataFrame, hyperplanes: list[list[float]],
             vec_col: str = "embedding") -> DataFrame:
    """``df`` plus its ``bucket`` key (see :func:`lsh_bucket`)."""
    return df.withColumn("bucket",
                         lsh_bucket(_as_double(F.col(vec_col)), hyperplanes))


def ivf_topk(df: DataFrame, query: list[float], k: int = 10,
             n_clusters: int = 8, n_probe: int = 2,
             vec_col: str = "embedding", seed: int = 42,
             centroids: list[list[float]] | None = None) -> DataFrame:
    """IVF (inverted-file) ANN: partition the vectors by nearest coarse
    centroid, rank only the ``n_probe`` clusters nearest the query.  The
    coarse quantizer is tiny (fits the driver); assignment is one
    broadcast-applied map, so at 10^12 rows the scan prunes to
    n_probe/n_clusters of the data.

    Two quantizers:

    * ``centroids=None`` (default): KMeans-trained (deterministic via the
      fixed seed) — the quality path;
    * explicit ``centroids``: a fixed coarse codebook (e.g. sampled table
      rows, like lsh_topk's hyperplanes).  Assignment is a pure per-row
      expression (argmin of squared distances, first-index tie-break), so
      the whole operator is engine-portable and oracle-verifiable
      (plans/benchqueries 'ann_ivf_topk').
    """
    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = df.select(F.col("vec_id"),
                         _as_double(F.col(vec_col)).alias("arr")) \
                 .withColumn("features", array_to_vector("arr"))
        model = KMeans(k=n_clusters, seed=seed, featuresCol="features") \
            .fit(feat)
        assigned = model.transform(feat) \
            .withColumnRenamed("prediction", "cluster")
        centers = [list(map(float, c)) for c in model.clusterCenters()]
    else:
        centers = [[float(x) for x in c] for c in centroids]
        v = _as_double(F.col(vec_col))
        d2 = [F.aggregate(
                  F.zip_with(v, F.array(*[F.lit(x) for x in c]),
                             lambda a, b: (a - b) * (a - b)),
                  F.lit(0.0), lambda acc, x: acc + x)
              for c in centers]
        darr = F.array(*d2)
        cluster = (F.array_position(darr, F.array_min(darr)) - 1).cast("int")
        assigned = df.select(F.col("vec_id"), v.alias("arr"),
                             cluster.alias("cluster"))

    qd = [float(x) for x in query]
    cdists = [(sum((qi - ci) ** 2 for qi, ci in zip(qd, c)), i)
              for i, c in enumerate(centers)]
    probe = [i for _, i in sorted(cdists)][:n_probe]

    qcol = F.array(*[F.lit(float(x)) for x in query])
    cand = assigned.filter(F.col("cluster").isin(probe))
    cos = _dot(F.col("arr"), qcol) / (_norm(F.col("arr")) * _norm(qcol))
    return (cand.select(F.col("vec_id").cast("long").alias("vec_id"),
                        cos.alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(k)
            .select("vec_id", F.round("cosine", 4).alias("cosine")))


def _probe_buckets(query: list[float], hyperplanes: list[list[float]],
                   n_probe: int) -> list[str]:
    """Multi-probe bucket list: the query's own bucket plus the buckets
    reached by flipping the sign bit of the (n_probe - 1) hyperplanes
    whose |<q, h>| is smallest — a near-boundary dot product is exactly
    where a near-duplicate lands on the other side."""
    dots = [sum(float(a) * float(b) for a, b in zip(query, h))
            for h in hyperplanes]
    base = "".join("1" if d > 0 else "0" for d in dots)
    order = sorted(range(len(dots)), key=lambda i: (abs(dots[i]), i))
    probes = [base]
    for i in order[: max(0, n_probe - 1)]:
        flipped = base[:i] + ("0" if base[i] == "1" else "1") + base[i + 1:]
        probes.append(flipped)
    return probes


def lsh_topk_multiprobe(df: DataFrame, query: list[float],
                        hyperplanes: list[list[float]], k: int = 10,
                        n_probe: int = 3,
                        vec_col: str = "embedding") -> DataFrame:
    """Multi-probe LSH ANN: rank the query's bucket plus the (n_probe-1)
    least-confident single-bit-flip buckets.  Same single bucket-filtered
    scan as lsh_topk (one isin over the bucket key, no extra shuffle);
    recall approaches brute force as n_probe grows while the scan still
    prunes to ~n_probe/2^B of the table."""
    probes = _probe_buckets(query, hyperplanes, n_probe)
    bucketed = lsh_bits(df, hyperplanes, vec_col)
    cand = bucketed.filter(F.col("bucket").isin(probes))
    q = F.array(*[F.lit(float(x)) for x in query])
    v = _as_double(F.col(vec_col))
    cos = _dot(v, q) / (_norm(v) * _norm(q))
    return (cand.select(F.col("vec_id").cast("long").alias("vec_id"),
                        cos.alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(k)
            .select("vec_id", F.round("cosine", 4).alias("cosine")))


def lsh_topk(df: DataFrame, query: list[float],
             hyperplanes: list[list[float]], k: int = 10,
             vec_col: str = "embedding") -> DataFrame:
    """ANN: rank only the query's LSH bucket (the 10^12-scale path)."""
    bucketed = lsh_bits(df, hyperplanes, vec_col)
    # the query's bucket is a pure function of (query, hyperplanes) — a
    # driver-side fold, not a 1-row Spark job (same left-to-right double
    # accumulation as lsh_bits' F.aggregate, so the sign bits agree
    # bit-for-bit); _probe_buckets[0] is exactly that bucket
    qbucket = _probe_buckets(query, hyperplanes, n_probe=1)[0]
    cand = bucketed.filter(F.col("bucket") == qbucket)
    q = F.array(*[F.lit(float(x)) for x in query])
    v = _as_double(F.col(vec_col))
    cos = _dot(v, q) / (_norm(v) * _norm(q))
    return (cand.select(F.col("vec_id").cast("long").alias("vec_id"),
                        cos.alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(k)
            .select("vec_id", F.round("cosine", 4).alias("cosine")))


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]],
              vec_col: str = "embedding") -> DataFrame:
    """Product-quantization encode (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split each vector into
    ``m = len(codebooks)`` contiguous subvectors and assign each to its
    nearest centroid in that subspace's codebook — ``m`` small ints
    replace the float vector (the memory story that makes
    billion-vector ANN fit a cluster).  Returns (vec_id, pq_code:
    array<int>).

    Assignment is a pure per-row native expression (argmin of squared
    subvector distances, first-index tie-break — the ivf_topk fixed-
    quantizer pattern), so encoding is one scan inside whole-stage
    codegen; the codebooks are driver-side literals (tiny, broadcast by
    value)."""
    total_dim = sum(len(cb[0]) for cb in codebooks)
    v = _as_double(F.col(vec_col))
    codes = []
    offset = 1  # F.slice is 1-based
    for cb in codebooks:
        sub_dim = len(cb[0])
        sub = F.slice(v, offset, sub_dim)
        offset += sub_dim
        d2 = [F.aggregate(
                  F.zip_with(sub, F.array(*[F.lit(float(x)) for x in c]),
                             lambda a, b: (a - b) * (a - b)),
                  F.lit(0.0), lambda acc, x: acc + x)
              for c in cb]
        darr = F.array(*d2)
        codes.append(
            (F.array_position(darr, F.array_min(darr)) - 1).cast("int"))
    # a NULL or wrong-dimension vector must not encode: a short slice
    # yields NULL subcodes whose ADC lookups alias REAL distances
    # (review finding) — malformed rows are excluded up front, like the
    # cosine ops where null scores sort last
    ok = F.col(vec_col).isNotNull() & (F.size(v) == total_dim)
    return (df.filter(ok)
            .select(F.col("vec_id").cast("long").alias("vec_id"),
                    F.array(*codes).alias("pq_code")))


def pq_topk(df: DataFrame, query: list[float],
            codebooks: list[list[list[float]]], k: int = 10,
            vec_col: str = "embedding",
            codes: DataFrame | None = None) -> DataFrame:
    """ADC (asymmetric distance computation) top-k over PQ codes: the
    query stays unquantized; per subspace, its squared distance to every
    centroid is precomputed DRIVER-side into an ``m x |codebook|``
    lookup table (tiny literals), and a row's approximate distance is
    the sum of ``m`` table lookups by its code.  The ranking scan
    touches only the m-int codes.  Pass ``codes`` — a persisted
    (vec_id, pq_code) frame from :func:`pq_encode` — to make that real:
    at 10^12 vectors the encode is a ONE-TIME job whose output the
    queries scan; without it this convenience form re-encodes from the
    float column per query (review finding — the code-only scale story
    requires the precomputed-codes path).  Returns (vec_id,
    approx_dist) ascending, ties by id."""
    enc = codes if codes is not None else pq_encode(df, codebooks,
                                                    vec_col)
    qd = [float(x) for x in query]
    tables = []
    offset = 0
    for cb in codebooks:
        sub_dim = len(cb[0])
        qsub = qd[offset:offset + sub_dim]
        offset += sub_dim
        tables.append([sum((a - b) * (a - b) for a, b in zip(qsub, c))
                       for c in cb])
    dist = None
    for j, table in enumerate(tables):
        term = F.element_at(F.array(*[F.lit(t) for t in table]),
                            F.element_at(F.col("pq_code"), j + 1) + 1)
        dist = term if dist is None else dist + term
    return (enc.select("vec_id", dist.alias("approx_dist"))
            .orderBy(F.col("approx_dist").asc(), F.col("vec_id"))
            .limit(k)
            .select("vec_id", F.round("approx_dist", 4)
                    .alias("approx_dist")))
