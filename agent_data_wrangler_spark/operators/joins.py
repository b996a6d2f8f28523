"""Join operators (SURVEY §2.6): equi / semi / anti / as-of, broadcast-aware.

The reference reaches these through its arbitrary-pandas executor
(``pd.merge`` / ``merge_asof`` — reference: tool_call_agent.py:30-54 executes
any program); our engine exposes them as first-class DataFrame ops.

Scale notes:
- ``equi_join`` takes a ``broadcast_right`` hint for dimension tables; with AQE
  on, Catalyst will also auto-switch to broadcast when runtime stats allow.
- ``asof_join`` is implemented as union-merge + window (the "sort-merge as-of"
  pattern): both sides shuffle ONCE on the key and sort by time, then a
  last_value window carries the most recent right-row forward. This avoids the
  naive range-join (which explodes to O(|L|·|R|) pairs per key) and scales to
  arbitrarily large sides; skewed keys are handled by AQE skew-join on the
  single shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from agent_data_wrangler_spark.operators import fits


def equi_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    how: str = "inner",
    broadcast_right: bool | str = False,
) -> DataFrame:
    """Equi-join with a broadcast hint for the right side.

    ``broadcast_right="auto"`` consults Catalyst's size estimate and hints
    only when the right side fits under ``spark.sql.autoBroadcastJoinThreshold``
    — the guard an unconditional hint lacks at 100 TB, where a "dimension"
    table can itself be shuffle-sized. (AQE also re-plans from runtime stats;
    the explicit hint matters when compile-time stats are absent/misleading.)
    """
    if broadcast_right == "auto":
        broadcast_right = _fits_broadcast(right)
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=on, how=how)


_SIZE_SUFFIXES = {"b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20, "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30}


def _parse_bytes(v: str) -> int:
    v = v.strip().lower()
    for suffix, mult in sorted(_SIZE_SUFFIXES.items(), key=lambda kv: -len(kv[0])):
        if v.endswith(suffix):
            return int(float(v[: -len(suffix)])) * mult
    return int(v)


def _fits_broadcast(df: DataFrame) -> bool:
    """Conservative: any failure to read stats/threshold → no hint (Catalyst/
    AQE still auto-broadcast from their own stats when appropriate)."""
    try:
        threshold = _parse_bytes(df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold"))
        if threshold <= 0:
            return False
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        return size <= threshold
    except Exception:
        return False


def semi_join(left: DataFrame, right: DataFrame, on: list[str] | str) -> DataFrame:
    """Rows of left with a match in right (no right columns, no fan-out)."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: list[str] | str) -> DataFrame:
    """Rows of left with NO match in right — the reference's validation
    pattern ('rows failing validation')."""
    return left.join(right, on=on, how="left_anti")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    *,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join: the (large, skewed) left side gets a
    deterministic salt in [0, salt); the (smaller) right side is replicated
    ``salt`` times; the join runs on (key, salt), splitting each hot key's
    rows across ``salt`` shuffle partitions.

    AQE's skew-join split handles most skew automatically — reach for manual
    salting when AQE can't (extreme single-key skew beyond its split factor,
    or a deterministic plan is required). Salt is derived from a hash of the
    whole left row (xxhash64), so replays are stable.

    Cost model: right side is duplicated ``salt``× through the shuffle —
    only worthwhile when right ≪ left (else broadcast it instead).

    Only left-preserving modes are supported: the replicated right side would
    emit each unmatched right row ``salt`` times under right/full outer.
    """
    if how not in {"inner", "left", "left_outer", "left_semi", "left_anti"}:
        raise ValueError(
            f"salted_join supports inner/left/left_semi/left_anti, not {how!r}: "
            "the salt-replicated right side duplicates unmatched right rows"
        )
    lsalt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt))
    l_tagged = left.withColumn("__salt", lsalt)
    r_tagged = right.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.lit(salt - 1).cast("bigint"))),
    )
    return l_tagged.join(r_tagged, on=[on, "__salt"], how=how).drop("__salt")


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    *,
    max_dist: int = 3,
    broadcast_right: bool = True,
) -> DataFrame:
    """Best-fuzzy-match join: each left row gets the right row with the
    smallest Levenshtein distance to ``left_col`` (≤ ``max_dist``; ties by
    ascending right value; unmatched rows kept with NULLs) — the JOIN form
    of T9's fuzzy canonicalization, for reconciling dirty free-text against
    a canonical dimension.

    Scale contract: the right side is a CANONICAL DIM (country lists, product
    catalogs — thousands of rows) and is broadcast, so the non-equi distance
    predicate runs as a BroadcastNestedLoopJoin: |L|·|R| comparisons but zero
    shuffle and embarrassingly parallel over left partitions. For
    large×large fuzzy joins, pre-block on cheap keys (length band, first
    char, phonetic bucket) to restore an equi-join shape — deliberately not
    hidden inside this helper because the right blocking key is domain
    knowledge.
    """
    dist = F.levenshtein(F.col(left_col), F.col(right_col))
    r = F.broadcast(right) if broadcast_right else right
    cand = left.join(r, dist <= max_dist, "left").withColumn("__dist", dist)
    w = Window.partitionBy(left_col).orderBy(
        F.col("__dist").asc_nulls_last(), F.col(right_col).asc_nulls_last()
    )
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_start: str,
    right_end: str,
    *,
    bucket: float | str = "auto",
    broadcast_right: bool | str = "auto",
) -> DataFrame:
    """Point-in-interval join: left rows matched to right rows where
    ``right_start <= left_point < right_end`` (half-open, SQL BETWEEN minus
    the end bound).

    Naive non-equi joins plan as BroadcastNestedLoopJoin — O(|L|·|R|)
    comparisons, a scale-killer the moment the right side outgrows a
    broadcast. This implementation converts the range predicate into an
    EQUI-join: intervals are exploded to one row per fixed-width bucket they
    cover, points map to their bucket, both sides hash-join on the bucket id,
    and the exact range predicate runs as a residual filter on the (tiny)
    per-bucket candidate set. The same technique Spark itself applies for
    stream-stream time-interval joins, expressed on the batch API.

    ``bucket='auto'`` sizes buckets to the right side's mean interval length
    (one cheap aggregate on the SMALLER side, collected driver-side — at
    100 TB the interval table is the dimension side), so each interval
    explodes to ~2 bucket rows: replication stays O(|R|) while the join stays
    a hash join. Pass a numeric ``bucket`` (in the column's native units —
    MICROSECONDS for timestamps, days for dates) to pin it.

    Timestamps/dates are normalized to numeric epoch units; both sides must
    use the same temporal family. Inner join only (outer variants would need
    unmatched-row recovery across the bucket explode; compose with anti_join
    for the complement).
    """
    lnum = _epoch_num(left, left_point)
    snum = _epoch_num(right, right_start)
    enum = _epoch_num(right, right_end)

    if bucket == "auto":
        width = fits.collect_fit(right.agg(F.avg(enum - snum)))[0][0]
        if width is None or width <= 0:
            raise ValueError("range_join: cannot auto-size buckets (empty right side or empty intervals)")
    else:
        width = float(bucket)

    w = F.lit(float(width))
    r_exploded = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(snum / w).cast("bigint"),
                F.floor(enum / w).cast("bigint"),
            )
        ),
    )
    if broadcast_right == "auto":
        broadcast_right = _fits_broadcast(right)
    if broadcast_right:
        r_exploded = F.broadcast(r_exploded)
    l_tagged = left.withColumn("__bucket", F.floor(lnum / w).cast("bigint"))
    return (
        l_tagged.join(r_exploded, on="__bucket", how="inner")
        .filter((lnum >= snum) & (lnum < enum))
        .drop("__bucket")
    )


def _epoch_num(df: DataFrame, col: str):
    """Numeric view of a point/boundary column: timestamps → epoch micros,
    dates → epoch days, numerics → double. Keeps bucket arithmetic uniform."""
    dtype = dict(df.dtypes).get(col)
    c = F.col(col)
    if dtype in ("timestamp", "timestamp_ntz"):
        # NTZ → LTZ cast interprets in the session tz; both sides of the
        # range join go through the same conversion, so comparisons and
        # bucket arithmetic are tz-shift invariant.
        return F.unix_micros(c.cast("timestamp"))
    if dtype == "date":
        return F.datediff(c, F.to_date(F.lit("1970-01-01")))
    return c.cast("double")


def two_phase_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, tuple],
    *,
    salt: int = 16,
) -> DataFrame:
    """Skew-safe aggregation for re-aggregatable functions: phase 1 groups on
    (key, salt) — hot keys split across ``salt`` reducers — phase 2 merges the
    partials on key alone (tiny shuffle: |keys|·salt rows).

    ``aggs`` maps output column → (partial_fn, merge_fn) built-ins, e.g.
    {"n": (F.count, F.sum), "total": (F.sum, F.sum), "mx": (F.max, F.max)}.
    Spark's hash aggregate already does map-side partials, so this only beats
    plain groupBy when a single key floods one reducer's final-merge memory.
    """
    salt_col = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt))
    partial = df.withColumn("__salt", salt_col).groupBy(key, "__salt").agg(
        *[pfn(c_in).alias(f"__p_{out}") for out, (pfn, _m, c_in) in _norm_aggs(aggs).items()]
    )
    return partial.groupBy(key).agg(
        *[mfn(f"__p_{out}").alias(out) for out, (_p, mfn, _c) in _norm_aggs(aggs).items()]
    )


def _norm_aggs(aggs: dict[str, tuple]) -> dict[str, tuple]:
    """Normalize {out: (partial, merge)} / {out: (partial, merge, col)}."""
    out = {}
    for name, spec in aggs.items():
        if len(spec) == 2:
            out[name] = (spec[0], spec[1], F.lit(1))
        else:
            out[name] = spec
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    right_values: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """As-of (nearest-past) join: for each left row, attach the right row with
    the greatest ``right_time`` <= ``left_time`` for the same key
    (``pd.merge_asof`` semantics, backward direction).

    Implementation: tag both sides, union on (key, time), sort within key, and
    carry the last-seen right values forward with a running window — a single
    shuffle on ``key``, linear in |L|+|R|.
    """
    lt, rt = F.col(left_time), F.col(right_time)
    l_tagged = left.withColumn("__t", lt.cast("timestamp")).withColumn("__is_left", F.lit(1))
    r_tagged = (
        right.select(
            F.col(key),
            rt.cast("timestamp").alias("__t"),
            *[F.col(v).alias(f"{v}{suffix}") for v in right_values],
        )
        .withColumn("__is_left", F.lit(0))
    )
    unioned = l_tagged.unionByName(r_tagged, allowMissingColumns=True)
    # Right rows sort before left rows at identical timestamps so an exact-time
    # match is visible to the left row (merge_asof allow_exact_matches=True).
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("__t").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned
    for v in right_values:
        carried = carried.withColumn(
            f"{v}{suffix}", F.last(F.col(f"{v}{suffix}"), ignorenulls=True).over(w)
        )
    return carried.filter(F.col("__is_left") == 1).drop("__is_left", "__t")
