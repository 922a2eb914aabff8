"""Partitioning & skew handling (SURVEY.md §4.2 'Partitioning / shuffle').

The document-size distribution of a web corpus is heavy-tailed; hash
partitioning by doc_id gives even *counts*, and the bytes even out once
each task holds many documents. The job (``scripts/run_extract.py``)
deals every document of a wave, giants included, by doc_id hash, whole
chunks per task (``checkpoint.ChunkedRun.deal``): at the design point
each task of a wave draws ~190 giants (SCALE.md §4.1), so a separate
pass for them would have nothing left to even out.

``straggler_split`` separates the giants (size in text chars, or PDF
payload bytes) from the rest; no job calls it, and perfbench's traced
run wraps it by name. ``with_size_salt`` adds ``size_bucket =
floor(log2(size))`` and a doc_id ``salt``; the ``size_buckets`` query and
perfbench's ``html_job`` warm-up use it. The job does not partition on
it: its keys are a few size buckets × ``SALT_N`` salts, and hashing them
into P tasks skewed the counts (2× at P = 8 on a 6,000-doc input).
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


def with_size_salt(documents: DataFrame, salt_n: int = SALT_N,
                   size=None) -> DataFrame:
    """Add (size_bucket, salt) columns of the ``size`` Column (default
    :func:`doc_size_col`); JVM-side expressions only."""
    size = doc_size_col() if size is None else size
    return documents.withColumn(
        "size_bucket",
        F.floor(F.log2(F.greatest(size, F.lit(1)) + F.lit(1))).cast("int"),
    ).withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(salt_n)).cast("int")
    )


def straggler_split(documents: DataFrame, char_threshold: int = 1_000_000,
                    size=None) -> tuple[DataFrame, DataFrame]:
    """Split off pathological giants (``size`` Column > threshold, default
    :func:`doc_size_col`; SURVEY.md §4.3 'straggler partition set').
    Returns (normal, stragglers); a null size counts as 0, so every row
    lands in exactly one of them."""
    size = doc_size_col() if size is None else size
    sized = documents.withColumn("_size", F.coalesce(size, F.lit(0)))
    normal = sized.filter(F.col("_size") <= char_threshold).drop("_size")
    stragglers = sized.filter(F.col("_size") > char_threshold).drop("_size")
    return normal, stragglers
