"""Similarity search over an embedding column (``array<float>``).

Training-data-pipeline layer: exact cosine top-k for one query
(:func:`cosine_topk_vs`) and for a query set (:func:`knn_join`), the
ANN-shaped batch join over an :class:`IVFIndex` (k-means coarse
quantizer, :func:`knn_join_ivf`), and embedding-cosine near-duplicate
pairs over random-hyperplane LSH buckets.

Scale posture: every operator is one corpus scan with JVM
`aggregate`/`zip_with` dot products. The query side stays in the plan
(a scalar subquery for one query, a broadcast for a set) with its norm
projected once per query; the two joins share one per-query rank step.
The near-dup path buckets vectors by sign-bit signature so its self-join
is an equi-join on the bucket key; at 10^12 rows the bucket key doubles
as the Iceberg partition column so candidate pairs co-locate at rest.
:class:`IVFIndex` assigns each vector a centroid id that the ANN join
equi-joins on.
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F

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
    """L2 norm of ``vec``, floored at 1e-12 so a zero vector divides
    safely."""
    sq = F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x)
    return F.greatest(F.sqrt(sq), F.lit(1e-12))


def dot_col(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _queries(queries: DataFrame, vec_col: str, id_col: str | None = None):
    """The query side as ``_qid`` (when ``id_col`` is given), ``_qv`` and
    ``_qnorm``: each query's norm is projected once, never per scored
    row."""
    ids = [F.col(id_col).alias("_qid")] if id_col else []
    return queries.select(*ids, F.col(vec_col).alias("_qv")).withColumn(
        "_qnorm", _norm_col("_qv")
    )


def _cosine(vec_col: str):
    """Cosine of ``vec_col`` against the ``_qv``/``_qnorm`` columns of
    :func:`_queries`."""
    return dot_col(F.col(vec_col), F.col("_qv")) / (
        _norm_col(vec_col) * F.col("_qnorm")
    )


def _rank(joined: DataFrame, k: int, vec_col: str, id_col: str,
          query_id_col: str) -> DataFrame:
    """Per-query top-k of corpus rows joined to :func:`_queries` rows:
    ``(query_id_col, id_col, cosine, rank)``.

    Ranks by the cosine ROUNDED to the output precision (6 places)
    before the corpus-id tie-break: near-equal neighbors whose raw dot
    products differ only in the last float ulps (~1e-16 between engines)
    would otherwise reorder nondeterministically across engines; rounded,
    both engines resolve identically via the id. Spark plans the
    ``row_number() <= k`` filter as a partial WindowGroupLimit before the
    exchange on the query id, so the exchange carries O(queries × k)."""
    scored = joined.select(
        F.col("_qid").alias(query_id_col),
        F.col(id_col),
        F.round(_cosine(vec_col), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
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
    # The query vector and norm are evaluated once as a subquery and flow
    # into the scan as runtime values — no BroadcastExchange +
    # BroadcastNestedLoopJoin per run. Measured interleaved at local[32]
    # on sf0.1: join-shape 1.36x the literal baseline, this shape 1.18x
    # (round-6 q5 attribution, BENCH/BASELINE.md at commit 0021fd4).
    # Subquery columns can't appear INSIDE higher-order functions, so
    # they're materialized to plain columns first; ONE struct subquery
    # carries both vector and norm (two separate scalar() calls would
    # execute the query frame twice per action).
    q = (
        _queries(query_df, query_vec_col or vec_col)
        .select(F.struct("_qv", "_qnorm").alias("_q"))
        .scalar()
    )
    joined = (
        fan_out(df).withColumn("_q", q)
        .withColumn("_qv", F.col("_q._qv"))
        .withColumn("_qnorm", F.col("_q._qnorm"))
    )
    return (
        joined.select(F.col(id_col), F.round(_cosine(vec_col), 6).alias("cosine"))
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
    BroadcastNestedLoopJoin, then :func:`_rank` ranks per query. The
    corpus is scanned ONCE regardless of the number of queries — at
    100 TB that dominates running N single-query jobs by N×.
    """
    q = _queries(queries, query_vec_col or vec_col, query_id_col)
    return _rank(df.crossJoin(F.broadcast(q)), k, vec_col, id_col, query_id_col)


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
    Ranking is :func:`knn_join`'s :func:`_rank`.
    """
    assert index.centroids is not None, "fit() first"
    n_probe = min(n_probe, index.k)
    bc = df.sparkSession.sparkContext.broadcast(
        np.asarray(index.centroids, dtype=np.float64)
    )

    @F.arrow_udf("array<int>")
    def _probes(v: pa.Array) -> pa.Array:
        idxs = np.argsort(_centroid_scores(v, bc.value), axis=1)[:, :n_probe]
        return pa.array(list(idxs.astype(np.int32)), pa.list_(pa.int32()))

    q = _queries(queries, query_vec_col or vec_col, query_id_col).withColumn(
        "_probe", F.explode(_probes(F.col("_qv")))
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
    return _rank(joined, k, vec_col, id_col, query_id_col)


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
    :func:`knn_join_ivf` scores each query against ~n_probe/k of the
    corpus.
    """

    def __init__(self, k: int = 16, seed: int = 42,
                 vec_col: str = "embedding") -> None:
        self.k = k
        self.seed = seed
        self.vec_col = vec_col
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
        _norm_col(vec_col).alias("norm"),
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
