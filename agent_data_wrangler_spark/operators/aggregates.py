"""Aggregation operators A1-A7 (SURVEY §2.5) plus grouped-analysis helpers.

Evidence in the reference: describe() global stats (tool_call_agent.py:136),
department-level analysis (tool_call_agent.py:148;
dirty_hr_further_clean_report.txt:21), value counts / mode (§2.2 P8, §2.4 T3),
correlation analysis (stash/dirty_hr_clean_report.txt:22).

Scale notes: every group-by here is Spark's partial+final hash aggregate (map-
side combine shrinks the shuffle to ~|groups|·|aggs| rows). Correlation is a
single-pass co-moment aggregate. Nothing collects more than the group results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from agent_data_wrangler_spark.operators import fits


def global_stats(df: DataFrame, column: str) -> DataFrame:
    """A1: count/mean/std(sample)/min/max/median for one column, one pass."""
    c = F.col(column).cast("double")
    return df.agg(
        F.count(c).alias("n"),
        F.avg(c).alias("mean"),
        F.stddev_samp(c).alias("std"),
        F.min(c).alias("min"),
        F.percentile(c, 0.5).alias("median"),
        F.max(c).alias("max"),
    )


def group_agg(df: DataFrame, keys: list[str], aggs: list[Column]) -> DataFrame:
    """A2: per-group aggregates (hash aggregate, partial+final)."""
    return df.groupBy(*keys).agg(*aggs)


def null_count_agg(df: DataFrame, column: str) -> Column:
    """A5: conditional null-count aggregate expression."""
    return F.sum(F.col(column).isNull().cast("bigint"))


def correlation(df: DataFrame, c1: str, c2: str) -> float:
    """A7: Pearson correlation (sample, matching pandas/DuckDB corr)."""
    return fits.collect_fit(
        df.agg(F.corr(F.col(c1).cast("double"), F.col(c2).cast("double"))))[0][0]


def seeded_sample(df: DataFrame, fraction: float, seed: int = 42) -> DataFrame:
    """Seeded Bernoulli sample (SURVEY §2.6): deterministic for a given Spark
    version/partitioning (per-partition XORShift streams). Engine-specific —
    DuckDB's sampler draws differently, so no value-level oracle exists; the
    row count concentrates around fraction·n (unit-tested).

    Scale: pure map-side filter — no shuffle, composes with pushdown."""
    return df.sample(withReplacement=False, fraction=fraction, seed=seed)


def stratified_sample(
    df: DataFrame, strata_col: str, fractions: dict, seed: int = 42
) -> DataFrame:
    """Per-stratum seeded Bernoulli sample (``sampleBy``) — the downsampling
    primitive for imbalanced training data (e.g. keep 100% of rare positives,
    5% of the majority class). Strata absent from ``fractions`` are dropped
    (fraction 0), matching ``DataFrameStatFunctions.sampleBy``.

    Scale: map-side filter on a hash of (seed, row) gated per-stratum — no
    shuffle, composes with pushdown, deterministic for a given Spark
    version/partitioning like seeded_sample. Engine-specific draw → rows-only
    correctness (count concentration + determinism unit-tested)."""
    return df.sampleBy(strata_col, fractions=fractions, seed=seed)


def approx_distinct(df: DataFrame, column: str, rsd: float = 0.05) -> DataFrame:
    """Approximate distinct count via HyperLogLog++ (SURVEY §2.6).

    The 100 TB default: a fixed-size sketch per partition merged on the
    driver path — no shuffle of distinct values at all, vs countDistinct's
    full shuffle. rsd=0.05 ≈ 1.5 KB of sketch. Engine-specific sketch → no
    value oracle; accuracy vs exact is unit-tested."""
    return df.agg(F.approx_count_distinct(column, rsd=rsd).alias(f"approx_distinct_{column}"))


def merge_partial_aggregates(
    frames: list[DataFrame],
    keys: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Merge pre-aggregated partials (counts / sums — the mergeable
    aggregate algebra) into one rollup: union, re-sum per key.

    This is incremental aggregate maintenance in batch form — the
    100 TB pattern where yesterday's rollup plus today's delta-aggregate
    replaces a from-scratch recompute over the full history. Means and
    ratios must be carried as (sum, count) partials and derived at read
    time; they do NOT merge directly.

    Scale: the inputs are already |groups|-sized, so the union + final
    aggregate shuffles rollup rows, never raw history.

    An empty ``frames`` list is an error (plausible when an epoch has no
    delta yet — the caller should skip the merge and keep the prior rollup);
    a single frame is re-aggregated as-is, which also makes the call
    idempotent over already-merged rollups.
    """
    if not frames:
        raise ValueError(
            "merge_partial_aggregates needs at least one partial frame; "
            "an epoch with no delta should skip the merge and reuse the "
            "existing rollup"
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    )
