"""Similarity search over an embedding column (array<float>).

Brute-force cosine is the exact baseline (one pass, no shuffle beyond the
final top-k).  The scale paths restrict candidates: random-projection
sign-LSH (``rp_bucket_topk``) to the query's hyperplane-sign bucket, so a
10^12-row corpus only scans one bucket's partition (bucket is a
join/partition key), and IVF (``ivf_write``/``ivf_search``) to the
KMeans cells nearest the query.  ``sign_bucket`` (axis-sign LSH) buckets
the embedding near-dup pairs.

All arithmetic is promoted to float64 BEFORE multiplication so the DuckDB
oracle (same promotion) reproduces results bit-for-bit up to summation
order; outputs are rounded to 4 decimals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LSH_SIGN_DIMS = 8


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    emb: DataFrame, query_vec_id: int, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact cosine top-k vs the stored vector ``query_vec_id`` (excluded
    from results).  Query side is a broadcast single row; scan side is one
    narrow pass — Catalyst keeps it shuffle-free until the final TakeOrdered."""
    q = emb.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("qvec")
    )
    sim = F.round(cosine_col(F.col(vec_col), F.col("qvec")), 4).alias("cosine")
    return (
        emb.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col).cast("long").alias("vec_id"), sim)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def sign_bucket(vec: Column, dims: int = LSH_SIGN_DIMS) -> Column:
    """Axis-aligned sign LSH: the sign pattern of the first ``dims``
    coordinates.  Kept as the SQL-trivial oracle shape; real embeddings
    (correlated, non-centered dims) need ``random_planes``/``rp_bucket``."""
    bits = [
        F.when(F.element_at(vec, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(dims)
    ]
    return F.concat(*bits)


def random_planes(dim: int, n_planes: int = 8, seed: int = 7) -> list[list[float]]:
    """Seeded Gaussian hyperplanes for sign-LSH — the standard random
    projection family (cosine-LSH): P[same bit] = 1 - θ/π.  Deterministic
    across runs/parallelism so bucket assignment is reproducible."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def rp_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign pattern of <vec, plane_i> for seeded random hyperplanes — all
    JVM expressions (zip_with/aggregate over literal arrays), no Python."""
    bits = []
    for plane in planes:
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(vec, lit_plane, lambda x, p: x.cast("double") * p),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def rp_bucket_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int,
    n_planes: int = 8,
    seed: int = 7,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via random-projection sign-LSH: exact cosine within
    the query's bucket, a broadcast single-row join on the bucket key.  At
    scale the table is written partitioned by bucket → a partition-pruned
    scan of ~n/2^n_planes rows."""
    planes = random_planes(dim, n_planes, seed)
    bucketed = emb.withColumn("bucket", rp_bucket(F.col(vec_col), planes))
    q = bucketed.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("qvec"), F.col("bucket").alias("qbucket")
    )
    sim = F.round(cosine_col(F.col(vec_col), F.col("qvec")), 4).alias("cosine")
    return (
        bucketed.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
        .filter(F.col(id_col) != query_vec_id)
        .select(F.col(id_col).cast("long").alias("vec_id"), sim)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_write(
    emb: DataFrame,
    path: str,
    n_clusters: int = 16,
    n_probe_default: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Persist the IVF index as a CELL-PARTITIONED vector table: the stored
    layout that makes the pruning claim real.  Layout::

        <path>/vectors/cell=<c>/…parquet   (vec_id, arr)
        <path>/centroids/…parquet          (cell, centroid array<double>)

    A search reads ``centroids`` (n_clusters rows — driver-sized by
    construction), picks n_probe cells, and scans ``vectors`` with a
    ``cell IN (…)`` filter that Spark turns into PartitionFilters — only
    n_probe/n_clusters of the corpus is ever read (asserted on the physical
    plan in tests/test_ann.py).  Same quantizer as :func:`ivf_topk`
    (seeded KMeans, hash-deterministic ≤100 k training sample)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = emb.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).alias("arr"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    n_total = feat.count()
    if n_total > 100_000:
        mod = max(1, n_total // 100_000)
        train = feat.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(mod)) == 0)
    else:
        train = feat
    model = KMeans(k=n_clusters, seed=seed, maxIter=20).fit(train)
    assigned = model.transform(feat).withColumnRenamed("prediction", "cell")
    (
        assigned.select("vec_id", "arr", "cell")
        .repartition("cell")  # one writer task per cell → no small-file spray
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path + "/vectors")
    )
    spark = emb.sparkSession
    centers = [
        (int(i), [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    spark.createDataFrame(centers, "cell int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(path + "/centroids")


def ivf_search(
    spark,
    path: str,
    query_vec: list[float],
    k: int,
    n_probe: int = 4,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Query the stored IVF table: centroid ranking is driver-side arithmetic
    over n_clusters rows (zero jobs against the corpus), then ONE
    partition-pruned scan of the n_probe probe cells."""
    import numpy as np

    qvec = np.asarray(query_vec, dtype=np.float64)
    cents = spark.read.parquet(path + "/centroids").collect()
    d2 = {int(r["cell"]): float(((np.asarray(r["centroid"]) - qvec) ** 2).sum()) for r in cents}
    probe_cells = sorted(d2, key=lambda c: d2[c])[:n_probe]

    q_df = spark.createDataFrame([(qvec.tolist(),)], "qvec array<double>")
    vecs = spark.read.parquet(path + "/vectors").filter(
        F.col("cell").isin([int(c) for c in probe_cells])
    )
    if exclude_vec_id is not None:
        vecs = vecs.filter(F.col("vec_id") != exclude_vec_id)
    sim = F.round(cosine_col(F.col("arr"), F.col("qvec")), 4).alias("cosine")
    return (
        vecs.crossJoin(F.broadcast(q_df))
        .select("vec_id", sim)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int,
    n_clusters: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a seeded KMeans coarse
    quantizer assigns every vector to a cell; the query scans only its
    ``n_probe`` nearest cells' members with exact cosine.

    Scale path: cells are the partition key of the stored vector table, so
    a query prunes to n_probe/n_clusters of the corpus (the embedding-side
    analog of the term-bucket routing).  Training samples at most ~100k
    vectors (KMeans is iterative; the quantizer does not need the corpus).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    F_ = F
    feat = emb.select(
        F_.col(id_col).cast("long").alias("vec_id"),
        F_.col(vec_col).alias("arr"),
        array_to_vector(F_.col(vec_col).cast("array<double>")).alias("features"),
    )
    # deterministic hash-based training sample: limit() depends on partition
    # order (rank-identity risk across cluster sizes), a hash filter doesn't.
    # target ~100k rows regardless of corpus size via a modulus on the id hash.
    n_total = feat.count()
    if n_total > 100_000:
        mod = max(1, n_total // 100_000)
        train = feat.filter(F_.pmod(F_.xxhash64(F_.col("vec_id")), F_.lit(mod)) == 0)
    else:
        train = feat
    model = KMeans(k=n_clusters, seed=seed, maxIter=20).fit(train)
    assigned = model.transform(feat).withColumnRenamed("prediction", "cell")

    q_row = assigned.filter(F_.col("vec_id") == query_vec_id).select("arr").head()
    if q_row is None:
        raise ValueError(f"query vector {query_vec_id} not found")
    import numpy as np

    qvec = np.asarray(q_row["arr"], dtype=np.float64)
    centers = model.clusterCenters()
    d2 = [float(((np.asarray(c) - qvec) ** 2).sum()) for c in centers]
    probe_cells = [int(i) for i in np.argsort(d2)[:n_probe]]

    spark = emb.sparkSession
    q_df = spark.createDataFrame(
        [(qvec.tolist(),)], "qvec array<double>"
    )
    sim = F_.round(cosine_col(F_.col("arr"), F_.col("qvec")), 4).alias("cosine")
    return (
        assigned.filter(F_.col("cell").isin(probe_cells))
        .filter(F_.col("vec_id") != query_vec_id)
        .crossJoin(F_.broadcast(q_df))
        .select("vec_id", sim)
        .orderBy(F_.desc("cosine"), F_.asc("vec_id"))
        .limit(k)
    )
