"""Row filters F1-F4 (SURVEY §2.3).

Evidence in the reference:
- F1 drop-null rows: "Rows with missing 'Last Promo Date' were dropped"
  (reference: graph_proj/src/agent/dirty_hr_further_clean_report.txt:14);
- F2 3-sigma outlier filter: prompt-mandated (tool_call_agent.py:137,
  ">3 standard deviations from the mean");
- F3 duplicate removal (stash/dirty_hr_clean_report.txt:17);
- F4 general predicate / future-date validation (graph_proj/README.md:113).

Scale notes: F2 is a fit-then-transform — one tiny aggregate job computes
(mean, stddev) per column, then the filter applies them as LITERALS so the
main pass is a codegen'd scan filter (pushdown-eligible), not a window over
the whole table. stddev is SAMPLE stddev (ddof=1) for pandas parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from agent_data_wrangler_spark.operators import fits


def drop_null_rows(df: DataFrame, subset: list[str] | None = None, how: str = "any") -> DataFrame:
    """F1: drop rows with nulls in ``subset`` (pandas ``dropna`` semantics)."""
    return df.na.drop(how=how, subset=subset)


def fit_sigma_bounds(df: DataFrame, columns: list[str], k: float = 3.0) -> dict[str, tuple[float, float]]:
    """Fit step for F2/T5: per-column (lo, hi) = mean ± k·stddev_samp, one
    aggregate job for ALL columns."""
    aggs = []
    for c in columns:
        col = F.col(c).cast("double")
        aggs.extend([F.avg(col).alias(f"{c}__mean"), F.stddev_samp(col).alias(f"{c}__std")])
    row = fits.collect_fit(df.agg(*aggs))[0]
    bounds = {}
    for c in columns:
        mean, std = row[f"{c}__mean"], row[f"{c}__std"]
        if mean is None or std is None:
            bounds[c] = (float("-inf"), float("inf"))
        else:
            bounds[c] = (mean - k * std, mean + k * std)
    return bounds


def sigma_outlier_filter(df: DataFrame, columns: list[str], k: float = 3.0) -> DataFrame:
    """F2: keep rows within mean ± k·σ on every given column (nulls kept,
    matching pandas boolean-mask semantics where NaN comparisons are False and
    the reference pipelines filter only non-null values they just imputed)."""
    bounds = fit_sigma_bounds(df, columns, k)
    cond = F.lit(True)
    for c, (lo, hi) in bounds.items():
        col = F.col(c).cast("double")
        cond = cond & (col.isNull() | ((col >= F.lit(lo)) & (col <= F.lit(hi))))
    return df.filter(cond)


_MAD_SCALE = 1.4826  # Φ⁻¹ consistency constant: MAD·1.4826 ≈ σ for normal data


def fit_mad_bounds(
    df: DataFrame, column: str, k: float = 3.0
) -> tuple[float, float]:
    """Fit step for the ROBUST outlier filter: (lo, hi) = median ± k·1.4826·MAD
    where MAD = median(|x − median|).

    Two tiny sequential aggregate jobs (the MAD needs the median as a
    literal); both are exact interpolating percentiles for oracle parity —
    at 100 TB swap in ``percentile_approx`` exactly as describe_auto does.
    Unlike mean±kσ (F2), the fit itself is outlier-resistant: a single
    billion-valued corrupt row shifts mean/σ arbitrarily but moves the
    median/MAD not at all — the robust rule is what you want on DIRTY data,
    which is the entire premise of a cleaning engine.
    """
    col = F.col(column).cast("double")
    med = fits.collect_fit(df.agg(F.percentile(col, 0.5)))[0][0]
    if med is None:
        return (float("-inf"), float("inf"))
    mad = fits.collect_fit(
        df.agg(F.percentile(F.abs(col - F.lit(med)), 0.5)))[0][0]
    if mad is None:
        return (float("-inf"), float("inf"))
    half = k * _MAD_SCALE * mad
    return (med - half, med + half)


def mad_outlier_filter(df: DataFrame, column: str, k: float = 3.0) -> DataFrame:
    """Keep rows within median ± k·1.4826·MAD on ``column`` (nulls kept,
    same mask semantics as ``sigma_outlier_filter``)."""
    lo, hi = fit_mad_bounds(df, column, k)
    col = F.col(column).cast("double")
    return df.filter(col.isNull() | ((col >= F.lit(lo)) & (col <= F.lit(hi))))


def drop_duplicate_rows(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """F3: exact dedup. Shuffles on the hash of ``subset`` (or all columns);
    at scale prefer a stable subset (e.g. a fingerprint column) over full-row
    comparison of wide rows."""
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def predicate_filter(df: DataFrame, predicate: Column | str) -> DataFrame:
    """F4: arbitrary boolean predicate (codegen'd, pushdown-eligible)."""
    return df.filter(predicate)


def future_date_filter(df: DataFrame, date_col: str, as_of: str) -> DataFrame:
    """F4 specialization: the reference's 'Date Joined' future-date validation
    (graph_proj/README.md:113). Takes an injected ``as_of`` (ISO date string)
    — never the wall clock — for determinism (FIXTURES.md rule)."""
    return df.filter(F.col(date_col) <= F.to_date(F.lit(as_of)))
