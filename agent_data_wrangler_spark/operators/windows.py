"""Window-function operators (SURVEY §2.6): ranking, lag/lead, rolling and
cumulative frames — the reference's "promotion timeline" analyses
(stash/dirty_hr_final_clean_report.txt:20) generalized.

Scale notes: each helper shuffles once on the partition keys; unbounded-
preceding frames use Spark's streaming frame evaluation (O(n) per partition).
Partition keys must have reasonable cardinality — a single global ORDER BY
window is the classic 100 TB anti-pattern, so global rankings go through
``top_k`` (TakeOrderedAndProject) instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from agent_data_wrangler_spark.operators import fits


def ranked(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column],
    method: str = "row_number",
    alias: str = "rank",
) -> DataFrame:
    fn = {
        "row_number": F.row_number,
        "rank": F.rank,
        "dense_rank": F.dense_rank,
        "percent_rank": F.percent_rank,
        "cume_dist": F.cume_dist,
    }[method]
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(alias, fn().over(w))


def with_ntile(
    df: DataFrame,
    n: int,
    partition_by: list[str],
    order_by: list[Column],
    alias: str = "ntile",
) -> DataFrame:
    """Equal-frequency bucketing (quartiles/deciles) per group. The order
    must be TOTAL (add a unique tie-break column) or bucket boundaries are
    nondeterministic across engines and runs."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(alias, F.ntile(n).over(w))


def top_per_group(
    df: DataFrame, partition_by: list[str], order_by: list[Column], n: int = 1
) -> DataFrame:
    """Top-n rows per group (row_number filter — shuffle once, no collect)."""
    return ranked(df, partition_by, order_by, "row_number", "__rn").filter(
        F.col("__rn") <= n
    ).drop("__rn")


def with_lag(
    df: DataFrame,
    column: str,
    partition_by: list[str],
    order_by: list[Column],
    offset: int = 1,
    alias: str | None = None,
) -> DataFrame:
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(alias or f"{column}_lag{offset}", F.lag(column, offset).over(w))


def cumulative(
    df: DataFrame,
    agg: Column,
    partition_by: list[str],
    order_by: list[Column],
    alias: str = "cum",
) -> DataFrame:
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(alias, agg.over(w))


def rolling(
    df: DataFrame,
    agg: Column,
    partition_by: list[str],
    order_by: list[Column],
    preceding: int,
    alias: str = "rolling",
) -> DataFrame:
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(-preceding, Window.currentRow)
    )
    return df.withColumn(alias, agg.over(w))


def top_k(df: DataFrame, order_by: list[Column], k: int) -> DataFrame:
    """Global top-k: orderBy+limit compiles to TakeOrderedAndProject — each
    partition keeps k rows, driver merges k·p rows; no global sort shuffle."""
    return df.orderBy(*order_by).limit(k)


def distributed_prefix_sum(
    df: DataFrame,
    value_col: str,
    order_col: str,
    partition_by: list[str] | None = None,
    *,
    n_buckets: int = 256,
    alias: str = "cum_before",
    inclusive: bool = False,
) -> DataFrame:
    """Exact prefix sum of ``value_col`` in ``order_col`` order (per
    ``partition_by`` group) WITHOUT a single-reducer-per-group window — the
    scale-safe form of ``sum(v) OVER (PARTITION BY g ORDER BY o)``.

    A plain ordered window funnels each group's entire history through one
    reducer: with a handful of groups (pack-by-source, global running totals)
    that is a non-starter at 100 TB, and salting cannot help because a prefix
    sum needs the order. Classic two-phase scan instead:

    1. bucket ``order_col`` into ``n_buckets`` fixed-width ranges (bounds from
       a 1-row min/max aggregate — the only driver roundtrip);
    2. per-(group, bucket) partial sums — a tiny frame,
       ``|groups| x n_buckets`` rows;
    3. exclusive cumsum of the partials per group ordered by bucket — a
       window over the TINY frame, then broadcast the offsets back;
    4. per-(group, bucket) ordered window adds the local running sum to the
       bucket offset — parallelism is ``|groups| x n_buckets`` and each
       reducer sees only its bucket's rows.

    Identical result to the single-reducer window (the bucket boundaries are
    deterministic, and order within a bucket is ``order_col`` order) —
    including NULL handling: NULL partition keys form their own group
    (null-safe join) and NULL order values sort first (bucket -1), matching
    NULLS FIRST. ``order_col`` must be numeric and unique within each group —
    the same totality requirement any cross-engine-deterministic cumsum has.
    ``inclusive=False`` (default) excludes the current row, the "tokens
    before me" packing semantics.
    """
    return distributed_prefix_sums(
        df,
        [value_col],
        order_col,
        partition_by,
        n_buckets=n_buckets,
        aliases=[alias],
        inclusive=inclusive,
    )


def distributed_prefix_sums(
    df: DataFrame,
    value_cols: list[str],
    order_col: str,
    partition_by: list[str] | None = None,
    *,
    n_buckets: int = 256,
    aliases: list[str],
    inclusive: bool = False,
) -> DataFrame:
    """Multi-column form of :func:`distributed_prefix_sum`: N prefix sums
    over the SAME ordering share one bucketing pass, one partials
    aggregate, one offsets broadcast, and one local window — N× cheaper
    than N single-column calls (ks1's two cumulative counts measured 2×
    on exactly this)."""
    if len(value_cols) != len(aliases):
        raise ValueError("value_cols and aliases must pair up")
    keys = list(partition_by or [])
    bounds = fits.collect_fit(df.agg(
        F.min(order_col).alias("lo"), F.max(order_col).alias("hi")
    ))[0]
    if bounds["lo"] is None:
        out = df
        for alias in aliases:
            out = out.withColumn(alias, F.lit(0).cast("bigint"))
        return out
    lo, hi = float(bounds["lo"]), float(bounds["hi"])
    width = max(1.0, (hi - lo + 1.0) / n_buckets)
    # NULL order values bucket to -1 — they sort before every real bucket,
    # matching the plain window's NULLS FIRST order (their cumsum order among
    # themselves is tie-arbitrary, exactly as in the plain window; the
    # uniqueness requirement below is what makes either form deterministic).
    bucket = F.when(F.col(order_col).isNull(), F.lit(-1)).otherwise(
        F.floor((F.col(order_col) - F.lit(lo)) / F.lit(width))
    ).cast("bigint")
    tagged = df.withColumn("__psb", bucket)
    partials = tagged.groupBy(*keys, "__psb").agg(
        *[F.sum(v).alias(f"__psum_{i}") for i, v in enumerate(value_cols)]
    )
    w_off = (
        Window.partitionBy(*keys).orderBy(F.asc("__psb"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = partials.select(
        *keys,
        "__psb",
        *[
            (F.sum(f"__psum_{i}").over(w_off) - F.col(f"__psum_{i}")).alias(
                f"__poff_{i}"
            )
            for i in range(len(value_cols))
        ],
    ).withColumnsRenamed({k: f"__o_{k}" for k in keys})
    # Null-safe equality on the partition keys: groupBy treats NULL as a real
    # group, and a plain equi-join would silently DROP those rows here.
    off = F.broadcast(offsets.withColumnRenamed("__psb", "__o_psb"))
    join_cond = F.col("__psb") == F.col("__o_psb")
    for k in keys:
        join_cond = join_cond & F.col(k).eqNullSafe(F.col(f"__o_{k}"))
    joined = tagged.join(off, join_cond, "inner").drop(
        "__o_psb", *[f"__o_{k}" for k in keys]
    )
    w_loc = (
        Window.partitionBy(*(keys + ["__psb"])).orderBy(F.asc(order_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = joined
    for i, (v, alias) in enumerate(zip(value_cols, aliases)):
        local = F.sum(v).over(w_loc)
        if not inclusive:
            local = local - F.col(v)
        out = out.withColumn(
            alias, (F.col(f"__poff_{i}") + local).cast("bigint")
        )
    return out.drop("__psb", *[f"__poff_{i}" for i in range(len(value_cols))])


def sessionize(
    df: DataFrame,
    keys: list[str],
    time_col: str,
    gap_seconds: int,
    tiebreak: list[str] | None = None,
    session_col: str = "session_id",
) -> DataFrame:
    """Batch gap-based sessionization: assign each row a per-key session index
    that increments whenever the gap to the previous event exceeds
    ``gap_seconds`` (the batch twin of streaming/ops.session_agg, and the
    reference's "user activity session" analysis expressed declaratively).

    Classic lag+cumsum: one shuffle on ``keys``, then both window passes (the
    lag and the running sum) share the same partition/order spec, so Catalyst
    evaluates them in a single Window operator over sorted runs — O(n) per
    key, no second exchange. Scales to 100 TB the same way every window op
    here does: per-key data streams through sorted; skewed keys (one user with
    millions of events) are the only hazard and are bounded by the session
    gap itself at analysis time.

    ``tiebreak`` columns make the intra-key order total when timestamps can
    collide (required for cross-engine determinism).
    """
    order = [F.col(time_col).asc()] + [F.col(c).asc() for c in (tiebreak or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    us = F.unix_micros(F.col(time_col).cast("timestamp"))
    prev = F.lag(us).over(w)
    new_session = (prev.isNull() | ((us - prev) > gap_seconds * 1_000_000)).cast("int")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(session_col, F.sum(new_session).over(run))


def rolling_anomaly(
    df: DataFrame,
    value_cents: Column | str,
    *,
    partition_by: list[str],
    order_by: list[Column],
    lookback: int = 10,
    min_history: int = 5,
    k: float = 3.0,
) -> DataFrame:
    """Rolling z-score anomaly flags: each row is compared against the mean
    and sample stddev of its previous ``lookback`` values (the row itself
    EXCLUDED — no self-masking) within its partition; rows with fewer than
    ``min_history`` preceding values are never flagged.

    ``value_cents`` must be an INTEGER column (e.g. cents): the rolling mean
    and variance are derived from integer sum / sum-of-squares, so they are
    bit-identical in any engine and any frame-evaluation order — a rolling
    aggregate over doubles is NOT (DuckDB's segment-tree windows sum in a
    different order than Spark's streaming frames).

    Output adds ``roll_n``, ``roll_mean``, ``is_anomaly``.
    Scale: one shuffle on ``partition_by``; bounded frames are O(lookback)
    per row.
    """
    raw = F.col(value_cents) if isinstance(value_cents, str) else value_cents
    # Widen BEFORE squaring: an int32 cents column overflows at v >= ~46341
    # in v*v (ANSI mode throws, legacy mode silently wraps into a negative
    # variance) — the square must happen in 64-bit space.
    v = raw.cast("long")
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(-lookback, -1)
    )
    n = F.count(v).over(w)
    s = F.sum(v).over(w)
    s2 = F.sum(v * v).over(w)
    mean = s.cast("double") / n.cast("double")
    # Sample variance from exact integer sums: (s2 - s^2/n) / (n-1).
    var = (s2.cast("double") - s.cast("double") * s.cast("double") / n.cast("double")) / (
        n.cast("double") - F.lit(1.0)
    )
    flag = (n >= min_history) & (
        F.abs(v.cast("double") - mean) > F.lit(k) * F.sqrt(F.greatest(var, F.lit(0.0)))
    )
    return (
        df.withColumn("roll_n", n.cast("bigint"))
        .withColumn("roll_mean", F.round(mean, 4))
        .withColumn("is_anomaly", F.coalesce(flag, F.lit(False)))
    )


def ewma(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column | str],
    value: Column | str,
    alpha: float = 0.3,
    lookback: int = 10,
    out_col: str = "ewma",
) -> DataFrame:
    """Bounded-lookback exponentially weighted moving average (the
    pandas ``ewm(adjust=True)`` shape, truncated to the last ``lookback``
    observations): ewma_i = Σ_j (1-α)^j·x_{i-j} / Σ_j (1-α)^j, j < lookback.

    Engineering: the frame's values are collected oldest→newest into a
    bounded array (O(lookback) per row, same budget class as ``rolling``)
    and both the numerator and the weight mass are folded with EXPLICIT
    ``pow(1-α, n-1-i)`` weights — a cross-engine-reproducible closed form,
    unlike the recursive one-pass update whose float error depends on
    evaluation order. The truncation also makes the operator
    shuffle-bounded: the exact infinite-history EWMA is inherently
    sequential per key (state from row 1 reaches row n), which at 100 TB
    means a single-task chain per key; bounding the window restores
    data-parallelism and changes the result by < (1-α)^lookback — pick
    ``lookback`` so that is below output rounding.
    Scale: ONE shuffle on ``partition_by``; no UDF, pure codegen fold.
    """
    v = (F.col(value) if isinstance(value, str) else value).cast("double")
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(-(lookback - 1), 0)
    )
    arr = F.collect_list(v).over(w)
    n = F.size(arr)
    decay = F.lit(1.0 - alpha)
    num = F.aggregate(
        F.zip_with(
            arr,
            F.transform(arr, lambda _, i: F.pow(decay, (n - 1 - i).cast("double"))),
            lambda x, wt: x * wt,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    den = F.aggregate(
        F.transform(arr, lambda _, i: F.pow(decay, (n - 1 - i).cast("double"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return df.withColumn(out_col, num / den)
