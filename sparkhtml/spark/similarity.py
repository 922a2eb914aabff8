"""Similarity search over an embedding column (``array<float>``).

Training-data-pipeline layer: brute-force cosine top-k as the exact
baseline, :class:`IVFIndex` (k-means coarse quantizer) as the ANN path,
and embedding-cosine near-duplicate pairs over random-hyperplane LSH
buckets.

Scale posture: the query vector broadcasts as a literal array (tiny);
brute-force is a single scan + JVM `aggregate`/`zip_with` dot products +
one top-k (`ORDER BY ... LIMIT k`, executed as TakeOrderedAndProject —
no full sort). The near-dup path buckets vectors by sign-bit signature so
its self-join is an equi-join on the bucket key; at 10^12 rows the bucket
key doubles as the Iceberg partition column so candidate pairs co-locate
at rest. :class:`IVFIndex` assigns each vector a centroid id and a query
filters/joins on it.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from . import _register_cached
from .dedup import _capped
from .partitioning import fan_out


def _centroid_scores(v: pa.Array, C: np.ndarray) -> np.ndarray:
    """(batch, k) scores ``‖c‖² − 2·x·c`` of each vector in the list
    column ``v`` against the centroid matrix ``C`` (k, d). ‖x‖² is
    row-constant, so a row's argmin/argsort is its nearest-centroid order.
    The (batch, d) matrix is the flat list values reshaped, in their
    column's own float type."""
    M = v.flatten().to_numpy(zero_copy_only=False).reshape(len(v), C.shape[1])
    return (C * C).sum(axis=1) - 2.0 * (M @ C.T)


def _norm_col(vec: str):
    return F.sqrt(
        F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x)
    )


def dot_col(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_topk(
    df: DataFrame, query: list[float], k: int = 10,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force cosine top-k against a constant query vector."""
    q = F.array(*[F.lit(float(x)) for x in query])
    qnorm = math.sqrt(sum(float(x) * float(x) for x in query)) or 1.0
    cos = dot_col(F.col(vec_col), q) / (
        F.greatest(_norm_col(vec_col), F.lit(1e-12)) * F.lit(qnorm)
    )
    return (
        fan_out(df).select(F.col(id_col), F.round(cos, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def cosine_topk_vs(
    df: DataFrame, query_df: DataFrame, k: int = 10,
    vec_col: str = "embedding", id_col: str = "vec_id",
    query_vec_col: str | None = None,
) -> DataFrame:
    """Exact cosine top-k against a 1-row query *DataFrame*.

    The query vector stays inside the plan (a scalar subquery over the
    single query row) — no driver-side ``.first()`` job at query-build
    time, which matters when query construction itself is a hot path
    (this module's rule; see ``cosine_near_dup_pairs`` requiring ``dim=``
    for the same reason).
    """
    qv = query_vec_col or vec_col
    df = fan_out(df)
    # The query vector and norm are evaluated once as a subquery and flow
    # into the scan as runtime values — no BroadcastExchange +
    # BroadcastNestedLoopJoin per run. Measured interleaved at local[32]
    # on sf0.1: join-shape 1.36x the literal baseline, this shape 1.18x
    # (round-6 q5 attribution, BENCH/BASELINE.md at commit 0021fd4).
    # Subquery columns can't appear INSIDE higher-order functions, so
    # they're materialized to plain columns first; ONE struct subquery
    # carries both vector and norm (two separate scalar() calls would
    # execute the query frame twice per action).
    q = query_df.select(
        F.struct(
            F.col(qv).alias("v"),
            F.greatest(_norm_col(qv), F.lit(1e-12)).alias("n"),
        ).alias("_q")
    ).scalar()
    joined = (
        df.withColumn("_q", q)
        .withColumn("_qv", F.col("_q.v"))
        .withColumn("_qnorm", F.col("_q.n"))
    )
    cos = dot_col(F.col(vec_col), F.col("_qv")) / (
        F.greatest(_norm_col(vec_col), F.lit(1e-12)) * F.col("_qnorm")
    )
    return (
        joined.select(F.col(id_col), F.round(cos, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def knn_join(
    df: DataFrame, queries: DataFrame, k: int = 10,
    vec_col: str = "embedding", id_col: str = "vec_id",
    query_id_col: str = "query_id", query_vec_col: str | None = None,
) -> DataFrame:
    """Exact batch k-NN join: for EVERY row of ``queries``, the top-k
    corpus rows by cosine — the ANN-serving shape (N queries at once),
    vs :func:`cosine_topk_vs`'s single query.

    Plan: the query set broadcasts (real serving batches are O(10³)
    rows); corpus rows join against all queries in one scan-local
    BroadcastNestedLoopJoin, then one window partitioned by query id
    ranks per-query. The corpus is scanned ONCE regardless of the number
    of queries — at 100 TB that dominates running N single-query jobs by
    N×. Query norms are projected once pre-broadcast, not per pair.
    Ranking orders by the cosine ROUNDED to the output precision (6
    places) before the corpus-id tie-break: near-equal neighbors whose
    raw dot products differ only in the last float ulps (~1e-16 between
    engines) would otherwise reorder nondeterministically across
    engines; at round-6 both engines resolve identically via the id.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.col(query_vec_col or vec_col).alias("_qv"),
    ).withColumn("_qnorm", F.greatest(_norm_col("_qv"), F.lit(1e-12)))
    joined = df.crossJoin(F.broadcast(q))
    cos = dot_col(F.col(vec_col), F.col("_qv")) / (
        F.greatest(_norm_col(vec_col), F.lit(1e-12)) * F.col("_qnorm")
    )
    scored = joined.select(
        F.col("_qid").alias(query_id_col),
        F.col(id_col),
        F.round(cos, 6).alias("_cos"),  # rank at output precision
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("_cos"), F.col(id_col)
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(
            query_id_col,
            id_col,
            F.round("_cos", 6).alias("cosine"),
            F.col("_rk").alias("rank"),
        )
    )


def knn_join_ivf(
    df: DataFrame, queries: DataFrame, index: "IVFIndex", k: int = 10,
    n_probe: int = 3, vec_col: str = "embedding", id_col: str = "vec_id",
    query_id_col: str = "query_id", query_vec_col: str | None = None,
) -> DataFrame:
    """ANN-shaped batch k-NN join: corpus rows score ONLY against queries
    probing their IVF cluster.

    :func:`knn_join`'s broadcast nested loop is exact but does
    corpus × N dot products; here the broadcast side is the exploded
    (query, probe-cluster) table and the join is an **equi-join on the
    cluster id** — each corpus row hashes to its cluster's queries, so
    the dot-product count drops to ~corpus × N × n_probe / k. At full
    probe (``n_probe = index.k``) the result equals the exact join (the
    driver oracle pins that); at partial probe recall is pinned by test.
    Ranking matches :func:`knn_join`: cosine rounded to output precision,
    corpus-id tie-break.
    """
    from pyspark.sql import Window

    assert index.centroids is not None, "fit() first"
    n_probe = min(n_probe, index.k)
    bc = df.sparkSession.sparkContext.broadcast(
        np.asarray(index.centroids, dtype=np.float64)
    )

    @F.arrow_udf("array<int>")
    def _probes(v: pa.Array) -> pa.Array:
        idxs = np.argsort(_centroid_scores(v, bc.value), axis=1)[:, :n_probe]
        return pa.array(list(idxs.astype(np.int32)), pa.list_(pa.int32()))

    q = (
        queries.select(
            F.col(query_id_col).alias("_qid"),
            F.col(query_vec_col or vec_col).alias("_qv"),
        )
        .withColumn("_qnorm", F.greatest(_norm_col("_qv"), F.lit(1e-12)))
        .withColumn("_probe", F.explode(_probes(F.col("_qv"))))
    )
    # the coalesce makes the join key non-nullable, so Catalyst does not
    # generate an isnotnull pre-filter — which would otherwise evaluate
    # the _assign UDF a SECOND time per corpus row (separate
    # ArrowEvalPython for the filter and the projection)
    corpus = index.assign(df).withColumn(
        "_ck", F.coalesce(F.col("ivf_cluster"), F.lit(-1))
    )
    joined = corpus.join(
        F.broadcast(q), corpus["_ck"] == q["_probe"], "inner"
    )
    cos = dot_col(F.col(vec_col), F.col("_qv")) / (
        F.greatest(_norm_col(vec_col), F.lit(1e-12)) * F.col("_qnorm")
    )
    scored = joined.select(
        F.col("_qid").alias(query_id_col),
        F.col(id_col),
        F.round(cos, 6).alias("_cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("_cos"), F.col(id_col)
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(
            query_id_col,
            id_col,
            F.col("_cos").alias("cosine"),
            F.col("_rk").alias("rank"),
        )
    )


def hyperplane_signature(
    vec_col: str, dim: int, n_planes: int = 16, seed: int = 42
):
    """Sign-bit LSH signature as a bigint column (JVM expressions only).

    Hyperplanes are seeded driver-side constants — identical on every
    executor, no data pass needed.
    """
    rng = random.Random(seed)
    planes = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]
    sig = F.lit(0).cast("long")
    for b, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        bit = F.when(dot_col(F.col(vec_col), p) >= 0, F.lit(1)).otherwise(F.lit(0))
        sig = sig + (bit.cast("long") * F.lit(1 << b))
    return sig


class IVFIndex:
    """IVF (inverted-file) ANN: a k-means coarse quantizer assigns every
    vector to a centroid; queries probe only the ``n_probe`` nearest
    centroids' clusters with exact cosine inside.

    The scale path sketched in this module's docstring made concrete:
    ``fit`` is one ML job (sampled), ``assign`` adds the cluster id —
    which doubles as the Iceberg partition column at rest — and
    ``topk`` reads ~n_probe/k of the corpus.
    """

    def __init__(self, k: int = 16, seed: int = 42,
                 vec_col: str = "embedding", id_col: str = "vec_id") -> None:
        self.k = k
        self.seed = seed
        self.vec_col = vec_col
        self.id_col = id_col
        self.centroids: list[list[float]] | None = None

    def fit(self, df: DataFrame, sample_fraction: float = 1.0) -> "IVFIndex":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train = df if sample_fraction >= 1.0 else df.sample(
            fraction=sample_fraction, seed=self.seed
        )
        vecs = train.select(
            array_to_vector(F.col(self.vec_col).cast("array<double>")).alias("features")
        )
        model = KMeans(k=self.k, seed=self.seed).fit(vecs)
        self.centroids = [[float(x) for x in c] for c in model.clusterCenters()]
        return self

    def _nearest_centroids(self, query: list[float], n_probe: int) -> list[int]:
        def dist2(c):
            return sum((a - float(b)) ** 2 for a, b in zip(c, query))

        order = sorted(range(self.k), key=lambda i: dist2(self.centroids[i]))
        return order[:n_probe]

    def assign(self, df: DataFrame) -> DataFrame:
        """Add the coarse cluster id (argmin centroid distance) as a column.

        One numpy matmul per Arrow batch against the broadcast centroid
        matrix: argmin ‖x−c‖² == argmin (‖c‖² − 2x·c) since ‖x‖² is
        row-constant. A per-centroid Catalyst expression chain would be a
        multi-megabyte plan at the k≈4096 a 100 TB corpus needs; the
        vectorized UDF is O(batch × k × d) BLAS instead.
        """
        assert self.centroids is not None, "fit() first"
        bc = df.sparkSession.sparkContext.broadcast(
            np.asarray(self.centroids, dtype=np.float64)
        )

        @F.arrow_udf("int")
        def _assign(v: pa.Array) -> pa.Array:
            scores = _centroid_scores(v, bc.value)
            return pa.array(scores.argmin(axis=1).astype(np.int32))

        return df.withColumn("ivf_cluster", _assign(F.col(self.vec_col)))

    def topk(self, df: DataFrame, query: list[float], k: int = 10,
             n_probe: int = 3) -> DataFrame:
        """Approximate top-k: exact cosine over the n_probe nearest
        clusters only."""
        assigned = self.assign(df)
        probes = self._nearest_centroids(query, n_probe)
        cand = assigned.filter(F.col("ivf_cluster").isin(probes))
        return cosine_topk(cand, query, k, self.vec_col, self.id_col)


def cosine_near_dup_pairs(
    df: DataFrame, threshold: float = 0.95, *, dim: int,
    vec_col: str = "embedding", id_col: str = "vec_id",
    n_planes: int = 12, seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH bucket self-join.

    Same-bucket candidates only (sign-LSH collision probability rises with
    cosine), exact cosine verification inside buckets. Buckets wider than
    :data:`~sparkhtml.spark.dedup.MAX_BUCKET` are dropped, as in the other
    LSH operators: one dense embedding cluster (near-identical boilerplate
    pages) would make the self-join quadratic otherwise.

    ``dim`` is required (driver-side hyperplane constants need it; deriving
    it with ``.first()`` would run a job in the hot path).
    """
    sig = hyperplane_signature(vec_col, dim, n_planes, seed)
    # Norm is projected ONCE per row here, before the self-join: computing
    # it inside the join output would re-run the O(dim) aggregate per
    # candidate PAIR — exactly the volume the bucket cap protects.
    cached = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        sig.alias("bucket"),
        F.greatest(_norm_col(vec_col), F.lit(1e-12)).alias("norm"),
    ).cache()
    # A self-join, not dedup._bucket_pairs: members carry a dim-float
    # vector, so a collected member list would copy O(w·dim) into every
    # exploded pair row, while the join streams the same pairs.
    b = _capped(cached, ["bucket"])
    l, r = b.alias("l"), b.alias("r")
    cos = dot_col(F.col("l.v"), F.col("r.v")) / (
        F.col("l.norm") * F.col("r.norm")
    )
    return _register_cached(
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"), "cosine"),
        cached,
    )
