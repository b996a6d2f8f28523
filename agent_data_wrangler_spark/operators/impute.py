"""Imputation / capping transforms T1-T6 (SURVEY §2.4) as fit-then-transform
pairs: statistics are computed in one aggregate job and applied as literals.

Evidence in the reference:
- T1 median fill: dirty_hr_further_clean_report.txt:10-11 (Age, Salary);
- T2 mean fill: stash/dirty_hr_clean.csv:2 carries the exact dataset mean
  74746.78752711497;
- T3 mode fill: dirty_hr_further_clean_report.txt:13 (performance_score);
- T4 constant/derived fill: stash/dirty_hr_final_clean_report.txt:12
  (earliest join_date as the "never promoted" placeholder);
- T5 outlier→null→impute: stash/dirty_hr_report.txt:15;
- T6 95th-percentile cap: graph_proj/README.md:108.

Parity rules (SURVEY §4): EXACT percentile/median (Spark ≥3.4 ``percentile``)
— percentile_approx would break oracle hash-matching; mode ties break by
ascending value; stddev is sample stddev.

Scale notes: each fit is one partial+final aggregate (tiny shuffle); the
transform is a literal-only projection that stays in whole-stage codegen.
Mode's fit is a groupBy-count (one shuffle on the value column) + a top-1 —
bounded by distinct-value count, not table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from agent_data_wrangler_spark.operators import fits


def fit_median(df: DataFrame, columns: list[str]) -> dict[str, float]:
    row = fits.collect_fit(df.agg(
        *[F.percentile(F.col(c).cast("double"), 0.5).alias(c) for c in columns]
    ))[0]
    return {c: row[c] for c in columns}


def fit_mean(df: DataFrame, columns: list[str]) -> dict[str, float]:
    row = fits.collect_fit(
        df.agg(*[F.avg(F.col(c).cast("double")).alias(c) for c in columns]))[0]
    return {c: row[c] for c in columns}


def fit_mode(df: DataFrame, column: str):
    """Deterministic mode: highest count, ties broken by ascending value
    (nulls excluded, as in pandas ``Series.mode``)."""
    rows = fits.collect_fit(
        df.filter(F.col(column).isNotNull())
        .groupBy(column)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc(column))
        .limit(1)
    )
    return rows[0][column] if rows else None


def fill_with(df: DataFrame, values: dict) -> DataFrame:
    """Transform step shared by T1-T4: apply literal fills. Uses when/otherwise
    rather than ``na.fill`` so non-finite and typed values work uniformly."""
    out = df
    for c, v in values.items():
        if v is None:
            continue
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(v)))
    return out


def fill_median(df: DataFrame, columns: list[str]) -> DataFrame:
    """T1."""
    return fill_with(df, fit_median(df, columns))


def fill_mean(df: DataFrame, columns: list[str]) -> DataFrame:
    """T2."""
    return fill_with(df, fit_mean(df, columns))


def fill_mode(df: DataFrame, columns: list[str]) -> DataFrame:
    """T3."""
    return fill_with(df, {c: fit_mode(df, c) for c in columns})


def fill_min_of(df: DataFrame, target: str, source: str) -> DataFrame:
    """T4: fill nulls in ``target`` with min(``source``) — the reference's
    "earliest join_date as never-promoted placeholder"."""
    v = fits.collect_fit(df.agg(F.min(source)))[0][0]
    return fill_with(df, {target: v})


def outliers_to_null(df: DataFrame, columns: list[str], k: float = 3.0) -> DataFrame:
    """T5 step 1: values outside mean ± k·σ → null (then impute with T1-T3)."""
    from agent_data_wrangler_spark.operators.filters import fit_sigma_bounds

    bounds = fit_sigma_bounds(df, columns, k)
    out = df
    for c, (lo, hi) in bounds.items():
        col = F.col(c).cast("double")
        out = out.withColumn(
            c, F.when(col.isNull() | ((col >= lo) & (col <= hi)), F.col(c)).otherwise(F.lit(None))
        )
    return out


def cap_percentile(df: DataFrame, columns: list[str], p: float = 0.95) -> DataFrame:
    """T6: winsorize from above at the p-th percentile (exact percentile)."""
    row = fits.collect_fit(df.agg(
        *[F.percentile(F.col(c).cast("double"), p).alias(c) for c in columns]
    ))[0]
    out = df
    for c in columns:
        cap = row[c]
        if cap is not None:
            out = out.withColumn(c, F.least(F.col(c), F.lit(cap).cast(dict(df.dtypes)[c])))
    return out


def forward_fill(
    df: DataFrame,
    columns: list[str],
    *,
    partition_by: list[str],
    order_by: list[str],
) -> DataFrame:
    """Time-series gap fill: replace NULLs with the most recent non-NULL
    value per partition (pandas ``ffill`` / gap-fill in a resampled series).

    ``order_by`` should totally order rows within a partition (e.g.
    ``["ts", "event_id"]``) so the fill is deterministic under shuffle.

    Scale: one shuffle on ``partition_by``; ``last(ignorenulls)`` over an
    unbounded-preceding frame is evaluated streamingly per partition (O(n),
    constant state — Spark keeps the one last-seen value, not the frame).
    Partition keys must be real entities (user, device); a global fill over
    one partition is the single-reducer anti-pattern and is on the caller.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*[F.col(c).asc() for c in order_by])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for c in columns:
        out = out.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
    return out


def backward_fill(
    df: DataFrame,
    columns: list[str],
    *,
    partition_by: list[str],
    order_by: list[str],
) -> DataFrame:
    """Mirror of :func:`forward_fill`: take the next non-NULL value
    (pandas ``bfill``). Implemented as a DESCENDING-order ``last``
    (ignorenulls) over unbounded-preceding — the accumulating one-pass
    frame — NOT ``first`` over (currentRow, unboundedFollowing): Spark
    evaluates an unbounded-FOLLOWING frame by re-scanning from each row to
    the partition end (O(n²) per partition), while the reversed
    unbounded-preceding frame keeps one running value (O(n)). Same single
    shuffle either way.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*[F.col(c).desc() for c in order_by])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for c in columns:
        out = out.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
    return out
