"""Deterministic corpus splitting & stratified sampling.

Training-data-pipeline layer: the split/sample decisions are
content-addressed — ``md5(seed:id)`` hash buckets, no RNG state — so they
are reproducible across runs, executors, and engines (the DuckDB oracle
recomputes the identical buckets with ``('0x' || substr(md5(..),1,6))``).
At 10^12 rows this matters twice over: a resumed or re-run job must not
re-deal the split, and a held-out set must stay held out when the corpus
is re-partitioned. The split and sample decisions are per-row JVM
expressions — zero shuffle, zero Python, scan-local at any scale; the
curation operators (``domain_quota``, ``mix_to_budget``, ``pack_greedy``)
shuffle once on their group key, and ``pack_greedy`` folds each group in
one Arrow crossing (``applyInArrow``).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F


def hash_bucket(id_col: str, seed: str, buckets: int = 100) -> Column:
    """Deterministic bucket in [0, buckets): first 24 bits of
    ``md5(seed:id)``, mod buckets. 24 bits ≫ bucket counts in use, so
    bucket occupancy is uniform to ~1e-5."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))),
                1, 6,
            ),
            16, 10,
        ).cast("bigint")
        % buckets
    )


def train_split(
    df: DataFrame, id_col: str = "doc_id", val_pct: int = 5,
    test_pct: int = 5, seed: str = "split-v1",
) -> DataFrame:
    """Add a ``split`` column: 'test' / 'val' / 'train' by hash bucket.

    Seed-versioned: bumping ``seed`` re-deals the whole split; keeping it
    pins every document's assignment forever (the property eval-set
    hygiene needs — a document can never migrate from test into train
    between pipeline runs).
    """
    h = hash_bucket(id_col, seed)
    split = (
        F.when(h < test_pct, "test")
        .when(h < test_pct + val_pct, "val")
        .otherwise("train")
    )
    return df.withColumn("split", split)


def stratified_sample(
    df: DataFrame, strata_col: str = "lang",
    fractions: dict[str, float] | None = None, default: float = 1.0,
    id_col: str = "doc_id", seed: str = "sample-v1",
) -> DataFrame:
    """Per-stratum deterministic downsample (e.g. rebalance languages):
    keep a row iff its hash bucket (of 10,000) falls under the stratum's
    fraction. Unlike ``DataFrame.sampleBy`` this is exact-reproducible —
    membership depends only on (seed, id), not on partitioning or
    Bernoulli draws — so reruns and engines agree row-for-row.
    """
    denom = 10_000
    h = hash_bucket(id_col, seed, denom)
    frac = F.lit(float(default))
    for k, v in (fractions or {}).items():
        frac = F.when(F.col(strata_col) == F.lit(k), F.lit(float(v))).otherwise(frac)
    return df.filter(h < (frac * denom).cast("bigint"))


def domain_quota(
    df: DataFrame, k: int, domain_col: str = "source",
    order_col: str = "n_chars", id_col: str = "doc_id",
    rank_col: str = "domain_rank",
) -> DataFrame:
    """Per-domain quota: keep the top-``k`` rows of each domain, ranked
    by ``order_col`` descending with ``id_col`` as the deterministic
    tie-break — the standard curation guard against any single
    domain/site dominating a training mix.

    Output contract: the returned frame is the input columns plus
    ``rank_col`` (1-based rank within the domain). ``rank_col`` must
    not already exist on the input — silently overwriting a caller's
    column would corrupt it, so that raises.

    One window over one shuffle on the domain key; at 10^12 rows the
    domain key is exactly the Iceberg partition-ish column you'd bucket
    by anyway, and AQE's skew handling covers mega-domains. (The rank
    arithmetic matches the reference's per-node window idiom —
    SURVEY.md Q10/Q11 — applied at corpus level.)
    """
    from pyspark.sql import Window

    if rank_col in df.columns:
        raise ValueError(
            f"domain_quota: input already has a {rank_col!r} column; "
            "pass rank_col= to pick a non-colliding output name"
        )
    w = Window.partitionBy(domain_col).orderBy(
        F.col(order_col).desc(), F.col(id_col)
    )
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def mix_to_budget(
    df: DataFrame, budgets: dict[str, int],
    default_budget: int | None = None, group_col: str = "lang",
    id_col: str = "doc_id", text_col: str = "text",
    seed: str = "mix-v1",
) -> DataFrame:
    """Deterministic token-budget corpus mixing (round 6): for each
    group (language/source/domain), keep documents until the group's
    token budget is exhausted — the "sample 30B tokens of en, 10B of
    de" training-mixture op.

    Selection order within a group is the content-addressed
    ``md5(seed:id)`` hex digest (ties broken by id) — an unbiased,
    engine-reproducible shuffle, same design as :func:`train_split`:
    re-runs, re-partitions, and the DuckDB oracle all walk the
    identical order. A document is kept iff it STARTS before the
    budget line (``cum - tokens < budget``), so the budget is a floor
    crossed at most once per group; groups with no budget and no
    ``default_budget`` pass through whole.

    Returns (id, group, tokens, cum_tokens) for kept rows.

    Scale posture: token counting is a scan-local JVM expression; the
    only exchange is ONE window shuffle on the group key (cumulative
    sum over the hash order). Same skew story as ``domain_quota`` —
    the group key is the natural partition column and AQE covers
    mega-groups.
    """
    from pyspark.sql import Window

    from . import textstats as _ts

    toks = df.select(
        F.col(id_col),
        F.col(group_col).alias("group"),
        _ts.token_count(text_col).cast("bigint").alias("tokens"),
        F.md5(
            F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))
        ).alias("_mix_order"),
    )
    budget = F.lit(default_budget).cast("bigint")
    for k, v in budgets.items():
        budget = F.when(F.col("group") == F.lit(k), F.lit(int(v))).otherwise(
            budget
        )
    w = Window.partitionBy("group").orderBy("_mix_order", id_col)
    cum = F.sum("tokens").over(w)
    return (
        toks.withColumn("cum_tokens", cum)
        .withColumn("_budget", budget)
        .filter(
            F.col("_budget").isNull()
            | (F.col("cum_tokens") - F.col("tokens") < F.col("_budget"))
        )
        .select(id_col, "group", "tokens", "cum_tokens")
    )


def pack_greedy(
    df: DataFrame, budget: int, group_col: str = "lang",
    id_col: str = "doc_id", text_col: str = "text",
    buckets: int | None = None,
) -> DataFrame:
    """Greedy first-fit sequence packing: within each group, walk
    documents in ascending ``id_col`` order and assign each to the
    current bin unless adding it would exceed ``budget`` whitespace
    tokens (then open a new bin; an oversized document gets a bin of its
    own). The training-batch packing shape — deterministic, so the
    DuckDB oracle reproduces the identical bins via a recursive CTE.

    Returns (id, group, tokens, bin_id, bin_tokens) where ``bin_tokens``
    is the running bin total after placing the row. A null ``text_col``
    counts as 0 tokens, as a null size does in ``straggler_split``.

    Scale posture: packing is sequential WITHIN a group by definition,
    so parallelism = number of groups. ``buckets=N`` subdivides each
    group by the content-addressed ``hash_bucket`` (md5-based, so an
    external engine can replay the exact bucket assignment — the DuckDB
    oracle does) — bins then pack within (group, bucket), which is the
    10^12-row deployment mode (4096 buckets → 4096-way parallel packing
    per group, each bucket a few GB); ``buckets=None`` is the exact
    single-sequence order.
    """
    from . import textstats as _ts

    toks = df.select(
        F.col(id_col),
        F.col(group_col).alias("group"),
        F.coalesce(_ts.token_count(text_col).cast("bigint"), F.lit(0))
        .alias("tokens"),
    )
    keys = ["group"]
    if buckets is not None:
        toks = toks.withColumn(
            "bucket", hash_bucket(id_col, "pack-v1", buckets)
        )
        keys.append("bucket")

    # id keeps its input type: Arrow sorts a string id bytewise, same as
    # DuckDB ORDER BY on VARCHAR, so the fold order stays engine-identical
    # for both numeric and string ids.
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, group string, tokens bigint, "
        "bin_id bigint, bin_tokens bigint"
        + (", bucket bigint" if buckets is not None else "")
    )

    def pack(table: pa.Table) -> pa.Table:
        table = table.sort_by(id_col)
        bins, totals = [], []
        bin_id, cur = 0, 0
        for t in table.column("tokens").to_pylist():
            if cur > 0 and cur + t > budget:
                bin_id += 1
                cur = 0
            cur += t
            bins.append(bin_id)
            totals.append(cur)
        out = table.select([id_col, "group", "tokens"]).append_column(
            "bin_id", pa.array(bins, pa.int64())
        ).append_column("bin_tokens", pa.array(totals, pa.int64()))
        if "bucket" in table.column_names:
            out = out.append_column("bucket", table.column("bucket"))
        return out

    return toks.groupBy(*keys).applyInArrow(pack, schema=out_schema)
