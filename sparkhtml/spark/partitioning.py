"""Partitioning & skew handling (SURVEY.md §4.2 'Partitioning / shuffle').

The document-size distribution of a web corpus is heavy-tailed; hash
partitioning by doc_id alone gives even *counts* but uneven *bytes* —
one straggler task holds the 99.9th-percentile giants. Plan:

- ``size_bucket = floor(log2(n_chars))`` — cheap, data-independent, no
  extra pass over the corpus (vs. exact percentiles, which would need one);
- ``salt = pmod(hash(doc_id), SALT_N)`` spreads each bucket;
- repartition on (size_bucket, salt): giants scatter across SALT_N tasks
  instead of hashing into one; AQE skew-join/coalesce handles the rest.

At 10^12 docs the same columns become the Iceberg table's bucket spec, so
the layout is already balanced at rest and the pipeline's first stage
reads without a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SALT_N = 64

# fan_out guard: inputs smaller than this stay put — the exchange +
# per-task scheduling overhead exceeds the parallelism gain. Round-7
# measurements (after the small-shuffle-file fixes in session.py, which
# obsolete the round-6 "repartition loses at sf0.1" result): 0.25-0.65 MB
# inputs (sf0.1) win 1.4-1.6x, 2.5-6 MB inputs (sf1.0) win 4-8x; the
# ~65 KB sf0.001 frames are where the fixed cost still loses. Change it
# only with a measurement.
FAN_OUT_MIN_BYTES = 128 << 10


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate, in bytes (a huge sentinel
    when the size is unknown)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _planned_partitions(df: DataFrame) -> int:
    """The frame's partition count without running it (0 when unknown).

    Under AQE, ``df.rdd`` materializes every shuffle below the frame: one
    extra job and a duplicate shuffle. So a plan AQE wraps (it has an
    exchange or a subquery) gives its count from the planned output
    partitioning — the static count, before AQE coalescing. Only a narrow
    plan is asked for ``df.rdd``, which lists its input splits and runs no
    job.
    """
    plan = df._jdf.queryExecution().executedPlan()
    adaptive = plan.nodeName() == "AdaptiveSparkPlan"
    if adaptive:
        plan = plan.executedPlan()
    n = plan.outputPartitioning().numPartitions()
    if n == 0 and not adaptive:
        n = df.rdd.getNumPartitions()
    return n


def fan_out(df: DataFrame, key: str | None = None) -> DataFrame:
    """Round-robin repartition to the session's core count when the input
    is an underpartitioned scan worth spreading.

    The unsplittable-input pitfall (optimization guide §2.5, SCALE.md
    "row-group pitfall"): a parquet file whose row groups exceed the scan
    split size serializes the whole downstream stage onto one task — at
    local[32] a mapInArrow parse runs 1-way while 31 cores idle. Spark
    cannot split inside a row group, so the only fix is an explicit
    exchange right after the read.

    Guards (all must pass, otherwise the frame is returned untouched):

    - not a streaming frame (repartition-by-number is unsupported there);
    - Catalyst's optimized-plan size estimate ≥ ``FAN_OUT_MIN_BYTES`` —
      tiny inputs lose more to the exchange + task scheduling than they
      gain (measured: see its note);
    - physical partition count < half the session's default parallelism —
      well-partitioned inputs (every real 100 TB table) make this a
      no-op, so the exchange only appears in the degenerate local shapes.
      The count is read from the plan without running it; a wide plan
      whose count the planner does not know is left untouched.

    Value-neutral: a round-robin exchange permutes row order only, and
    every declared query is order-insensitive (the correctness gate
    hashes sorted row digests).
    """
    if df.isStreaming:
        return df
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        if plan_size_bytes(df) < FAN_OUT_MIN_BYTES:
            return df
        nparts = _planned_partitions(df)
    except Exception:  # pragma: no cover - conservative: never fail a plan
        return df
    if nparts == 0 or nparts * 2 >= target:
        return df
    if key is not None:
        # Hash-partitioning on a high-cardinality key (doc_id) spreads as
        # evenly as round-robin here and skips round-robin's local
        # sort-before-repartition pass. It also publishes a
        # hashpartitioning outputPartitioning that downstream
        # windows/joins clustered on (key, ...) can reuse (guide §2.4) —
        # though NOT through a cached AQE plan, whose InMemoryRelation
        # reports unknown partitioning (measured round 7: the nodes-cache
        # consumers still insert ENSURE_REQUIREMENTS exchanges).
        return df.repartition(target, F.col(key))
    return df.repartition(target)


def doc_size_col() -> "F.Column":
    """Total character payload of a document's text spans."""
    return F.aggregate(
        "spans",
        F.lit(0),
        lambda acc, s: acc + F.coalesce(F.length(s["text"]), F.lit(0)),
    )


def with_size_salt(documents: DataFrame, salt_n: int = SALT_N) -> DataFrame:
    """Add (size_bucket, salt) columns; JVM-side expressions only."""
    n_chars = doc_size_col()
    return documents.withColumn(
        "size_bucket",
        F.floor(F.log2(F.greatest(n_chars, F.lit(1)) + F.lit(1))).cast("int"),
    ).withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(salt_n)).cast("int")
    )


def straggler_split(
    documents: DataFrame, char_threshold: int = 1_000_000
) -> tuple[DataFrame, DataFrame]:
    """Route pathological giants (> threshold chars) to a dedicated set of
    tasks (SURVEY.md §4.3 'straggler partition set'). Returns
    (normal, stragglers)."""
    sized = documents.withColumn("_n_chars", doc_size_col())
    normal = sized.filter(F.col("_n_chars") <= char_threshold).drop("_n_chars")
    stragglers = sized.filter(F.col("_n_chars") > char_threshold).drop("_n_chars")
    return normal, stragglers
