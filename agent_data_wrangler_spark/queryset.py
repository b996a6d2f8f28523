"""Oracle-checked query registry — one entry per SURVEY §2 operator.

Each query is a thin composition over the operator library (operators/,
functions/) so the registry doubles as the engine's integration-test surface.
Every entry has a DuckDB-equivalent ANSI SQL string in ``ORACLE``; column
names and rounding are kept IDENTICAL on both sides (the driver hashes values
after sorting columns by name).

Determinism rules applied throughout (FIXTURES.md):
- sums of doubles rounded to 2 decimals, means/ratios to 4, correlations to 6
  (cross-engine float noise is ~1e-9 relative; fewer decimals = safer hash);
- running/window sums computed on integer cents (bit-exact in any engine);
- mode/top-k ties broken by ascending value;
- sample stddev everywhere; exact (interpolating) percentiles everywhere;
- no wall-clock: date cutoffs are literals.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from agent_data_wrangler_spark.functions.dates import to_date_multi
from agent_data_wrangler_spark.functions.strings import normalize_phone
from agent_data_wrangler_spark.operators import (
    aggregates,
    cdc,
    filters,
    impute,
    joins,
    pivot,
    profile,
    transform,
    windows,
)
from agent_data_wrangler_spark.operators.held import Held, checkpointed
from agent_data_wrangler_spark.plans.derived import staged
from agent_data_wrangler_spark.sources.readers import read_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str):
    def deco(fn):
        QUERIES[name] = fn
        ORACLE[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# A1/A2 — flagship aggregation (TPC-H Q1-shaped pricing summary on lineitem).
# Scale: predicate pushes to the parquet scan; partial+final hash agg shrinks
# the shuffle to |groups| rows. This is the entry() smoke query.
# ---------------------------------------------------------------------------
@query(
    "a1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    li = filters.predicate_filter(li, F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return aggregates.group_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        ],
    )


# ---------------------------------------------------------------------------
# P2 — shape (rows x cols).
# ---------------------------------------------------------------------------
@query(
    "p2_shape_lineitem",
    oracle="SELECT count(*) AS n_rows, CAST(11 AS BIGINT) AS n_cols FROM lineitem",
)
def p2_shape_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(len(li.columns)).cast("bigint").alias("n_cols"),
    )


# ---------------------------------------------------------------------------
# P5/A1 — describe(): count/mean/std/min/p25/p50/p75/max per numeric column,
# ONE aggregate pass for all columns (long format).
# ---------------------------------------------------------------------------
_DESCRIBE_COLS = ["l_discount", "l_extendedprice", "l_quantity"]


@query(
    "p5_describe_lineitem",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS col_name,
               count({c})                              AS n,
               round(avg({c}), 4)                      AS mean,
               round(stddev_samp({c}), 4)              AS std,
               round(min({c}), 4)                      AS min_v,
               round(quantile_cont({c}, 0.25), 4)      AS p25,
               round(quantile_cont({c}, 0.50), 4)      AS p50,
               round(quantile_cont({c}, 0.75), 4)      AS p75,
               round(max({c}), 4)                      AS max_v
        FROM lineitem
        """
        for c in _DESCRIBE_COLS
    ),
)
def p5_describe_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    d = profile.describe_numeric(li, _DESCRIBE_COLS)
    return d.select(
        F.col("column").alias("col_name"),
        F.col("count").alias("n"),
        F.round("mean", 4).alias("mean"),
        F.round("std", 4).alias("std"),
        F.round("min", 4).alias("min_v"),
        F.round("p25", 4).alias("p25"),
        F.round("p50", 4).alias("p50"),
        F.round("p75", 4).alias("p75"),
        F.round("max", 4).alias("max_v"),
    )


# ---------------------------------------------------------------------------
# P5 variant — describe_auto: the size-based exact/approx switch that is the
# pipeline default at scale. At test SF Catalyst's sizeInBytes sits far below
# the 2 GB threshold, so the switch MUST take the exact path — the oracle is
# the exact describe, and a driver-green row here pins the switch logic
# itself (a broken size probe that silently flipped to the sketch would
# hash-mismatch on the percentiles).
# ---------------------------------------------------------------------------
_DA1_COLS = ["o_totalprice"]


@query(
    "da1_describe_auto_orders",
    oracle="""
    SELECT 'o_totalprice' AS col_name,
           count(o_totalprice)                         AS n,
           round(avg(o_totalprice), 4)                 AS mean,
           round(stddev_samp(o_totalprice), 4)         AS std,
           round(min(o_totalprice), 4)                 AS min_v,
           round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
           round(max(o_totalprice), 4)                 AS max_v
    FROM orders
    """,
)
def da1_describe_auto_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    d = profile.describe_auto(o, _DA1_COLS)
    return d.select(
        F.col("column").alias("col_name"),
        F.col("count").alias("n"),
        F.round("mean", 4).alias("mean"),
        F.round("std", 4).alias("std"),
        F.round("min", 4).alias("min_v"),
        F.round("p25", 4).alias("p25"),
        F.round("p50", 4).alias("p50"),
        F.round("p75", 4).alias("p75"),
        F.round("max", 4).alias("max_v"),
    )


# ---------------------------------------------------------------------------
# P6/A5 — null counts per column, one pass (events table).
# ---------------------------------------------------------------------------
_EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


@query(
    "p6_null_counts_events",
    oracle=" UNION ALL ".join(
        f"SELECT '{c}' AS col_name, CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count FROM events"
        for c in _EVENT_COLS
    ),
)
def p6_null_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return profile.null_counts(ev, _EVENT_COLS).select(
        F.col("column").alias("col_name"), F.col("null_count")
    )


# ---------------------------------------------------------------------------
# P8/A3 — value counts of a categorical (typo-discovery pattern).
# ---------------------------------------------------------------------------
@query(
    "p8_value_counts_priority",
    oracle="SELECT o_orderpriority AS val, count(*) AS cnt FROM orders GROUP BY o_orderpriority",
)
def p8_value_counts_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return profile.value_counts(o, "o_orderpriority").select(
        F.col("value").alias("val"), F.col("count").alias("cnt")
    )


# ---------------------------------------------------------------------------
# P9 — duplicate-row count (documents, keyed by a 32-byte md5 fingerprint of
# normalized text, NOT the full body: at 100 TB of documents the distinct
# shuffle moves fingerprints, never the corpus). Oracle mirrors the identical
# md5(normalized) in DuckDB.
# ---------------------------------------------------------------------------
@query(
    "p9_duplicate_count_documents",
    oracle="""
    SELECT count(*) - count(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
           AS dup_rows
    FROM documents
    """,
)
def p9_duplicate_count_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agent_data_wrangler_spark.functions.text import fingerprint

    d = read_table(spark, sf_dir, "documents")
    return d.agg(
        (F.count(F.lit(1)) - F.countDistinct(fingerprint("text"))).alias("dup_rows")
    )


# ---------------------------------------------------------------------------
# F1+F2 — drop-null rows then 3-sigma outlier filter (fit-then-transform:
# stats computed once, applied as scan-filter literals).
# ---------------------------------------------------------------------------
@query(
    "f1_f2_dropnull_sigma_events",
    oracle="""
    WITH base AS (
      SELECT CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v FROM events
    ), nn AS (
      SELECT v FROM base WHERE v IS NOT NULL
    ), s AS (
      SELECT avg(v) AS m, stddev_samp(v) AS sd FROM nn
    )
    SELECT count(*) AS n, round(avg(v), 4) AS avg_v, round(sum(v), 2) AS sum_v
    FROM nn, s WHERE v >= m - 3 * sd AND v <= m + 3 * sd
    """,
)
def f1_f2_dropnull_sigma_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value")).alias("v")
    )
    nn = filters.drop_null_rows(ev, ["v"])
    kept = filters.sigma_outlier_filter(nn, ["v"], k=3.0)
    return kept.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("v"), 4).alias("avg_v"),
        F.round(F.sum("v"), 2).alias("sum_v"),
    )


# ---------------------------------------------------------------------------
# T1 — median fill (fit on non-null, apply as literal), grouped check.
# ---------------------------------------------------------------------------
@query(
    "t1_median_fill_events",
    oracle="""
    WITH base AS (
      SELECT event_type, CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v FROM events
    ), med AS (
      SELECT quantile_cont(v, 0.5) AS m FROM base
    )
    SELECT event_type, count(*) AS n, round(avg(coalesce(v, m)), 4) AS avg_filled
    FROM base, med GROUP BY event_type, m
    """,
)
def t1_median_fill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value")).alias("v"),
    )
    filled = impute.fill_median(base, ["v"])
    return filled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("v"), 4).alias("avg_filled")
    )


# ---------------------------------------------------------------------------
# T2 — mean fill; the reference's exact-mean artifact invariant
# (stash/dirty_hr_clean.csv:2) re-expressed: filled mean == original mean.
# ---------------------------------------------------------------------------
@query(
    "t2_mean_fill_events",
    oracle="""
    WITH base AS (
      SELECT CASE WHEN event_type = 'signup' THEN NULL ELSE value END AS v FROM events
    ), mu AS (
      SELECT avg(v) AS m FROM base
    )
    SELECT count(*) AS n,
           round(avg(coalesce(v, m)), 4) AS avg_filled,
           round(sum(coalesce(v, m)), 2) AS sum_filled
    FROM base, mu
    """,
)
def t2_mean_fill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = read_table(spark, sf_dir, "events").select(
        F.when(F.col("event_type") == "signup", F.lit(None)).otherwise(F.col("value")).alias("v")
    )
    filled = impute.fill_mean(base, ["v"])
    return filled.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("v"), 4).alias("avg_filled"),
        F.round(F.sum("v"), 2).alias("sum_filled"),
    )


# ---------------------------------------------------------------------------
# T3/A4 — deterministic mode (highest count, ties -> ascending value).
# ---------------------------------------------------------------------------
@query(
    "a4_mode_priority",
    oracle="""
    SELECT o_orderpriority AS mode_value FROM orders
    GROUP BY o_orderpriority ORDER BY count(*) DESC, o_orderpriority ASC LIMIT 1
    """,
)
def a4_mode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    mode = impute.fit_mode(o, "o_orderpriority")
    # range(1)+lit stays JVM-local; createDataFrame([...]) would be an
    # RDD-backed plan that spins up Python workers for a single literal row
    # (~1.5s of the query's cost when it is the session's first Python job).
    return spark.range(1).select(F.lit(mode).alias("mode_value"))


# ---------------------------------------------------------------------------
# T4 — fill with derived placeholder: min(o_orderdate) for synthesized nulls.
# ---------------------------------------------------------------------------
@query(
    "t4_fill_min_date_orders",
    oracle="""
    WITH base AS (
      SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderdate END AS d FROM orders
    ), mn AS (
      SELECT min(d) AS m FROM base
    )
    SELECT CAST(coalesce(d, m) AS DATE) AS d_filled, count(*) AS n
    FROM base, mn GROUP BY 1
    """,
)
def t4_fill_min_date_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = read_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderstatus") == "P", F.lit(None)).otherwise(F.col("o_orderdate")).alias("d")
    )
    filled = impute.fill_min_of(base, target="d", source="d")
    return filled.groupBy(F.col("d").cast("date").alias("d_filled")).agg(
        F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# T5 — outliers -> null -> median impute (the stash pipeline), 2-sigma to
# actually trip on the data.
# ---------------------------------------------------------------------------
@query(
    "t5_outlier_null_impute_orders",
    oracle="""
    WITH s AS (
      SELECT avg(o_totalprice) AS m, stddev_samp(o_totalprice) AS sd FROM orders
    ), nulled AS (
      SELECT CASE WHEN o_totalprice >= m - 2 * sd AND o_totalprice <= m + 2 * sd
                  THEN o_totalprice ELSE NULL END AS v
      FROM orders, s
    ), med AS (
      SELECT quantile_cont(v, 0.5) AS md FROM nulled
    )
    SELECT count(*) AS n,
           CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(avg(coalesce(v, md)), 4) AS avg_imputed
    FROM nulled, med
    """,
)
def t5_outlier_null_impute_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Three scans total (sigma fit, median fit, final fused aggregate) — the
    # count/null-count/avg stats are folded into ONE job with the median
    # applied as a literal, instead of a separate job per statistic.
    o = read_table(spark, sf_dir, "orders").select(F.col("o_totalprice").alias("v"))
    nulled = impute.outliers_to_null(o, ["v"], k=2.0)
    md = impute.fit_median(nulled, ["v"])["v"]
    return nulled.agg(
        F.count(F.lit(1)).alias("n"),
        aggregates.null_count_agg(nulled, "v").alias("n_outliers"),
        F.round(F.avg(F.coalesce(F.col("v"), F.lit(md))), 4).alias("avg_imputed"),
    )


# ---------------------------------------------------------------------------
# T6 — percentile cap (winsorize at p95, exact percentile).
# ---------------------------------------------------------------------------
@query(
    "t6_cap_p95_orders",
    oracle="""
    WITH p AS (SELECT quantile_cont(o_totalprice, 0.95) AS cap FROM orders)
    SELECT count(*) AS n,
           round(sum(least(o_totalprice, cap)), 2) AS sum_capped,
           round(max(least(o_totalprice, cap)), 4) AS max_capped
    FROM orders, p
    """,
)
def t6_cap_p95_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    capped = impute.cap_percentile(o, ["o_totalprice"], p=0.95)
    return capped.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_capped"),
        F.round(F.max("o_totalprice"), 4).alias("max_capped"),
    )


# ---------------------------------------------------------------------------
# T7+T8+T9 — trim, case-normalize, dictionary canonicalization (nation names;
# dirt synthesized in-query so both engines see identical input).
# ---------------------------------------------------------------------------
@query(
    "t7t8t9_string_clean_nation",
    oracle="""
    WITH dirty AS (
      SELECT n_nationkey, concat('  ', n_name, ' ') AS raw, n_name FROM nation
    )
    SELECT n_nationkey,
           lower(trim(raw)) AS name_norm,
           CASE WHEN trim(lower(raw)) = 'united states' THEN 'USA'
                WHEN trim(lower(raw)) = 'united kingdom' THEN 'UK'
                ELSE n_name END AS name_canon
    FROM dirty
    """,
)
def t7t8t9_string_clean_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = read_table(spark, sf_dir, "nation").select(
        "n_nationkey",
        F.concat(F.lit("  "), F.col("n_name"), F.lit(" ")).alias("raw"),
        "n_name",
    )
    trimmed = transform.trim_columns(n.withColumn("name_norm", F.col("raw")), ["name_norm"])
    lowered = transform.normalize_case(trimmed, ["name_norm"], style="lower")
    canon = transform.canonicalize_map(
        lowered.withColumn("name_canon", F.col("raw")),
        "name_canon",
        {"united states": "USA", "united kingdom": "UK"},
        case_insensitive=True,
    )
    # unmapped values fall back to the clean original (mirrors oracle CASE).
    canon = canon.withColumn(
        "name_canon",
        F.when(F.col("name_canon").isin("USA", "UK"), F.col("name_canon")).otherwise(
            F.col("n_name")
        ),
    )
    return canon.select("n_nationkey", "name_norm", "name_canon")


# ---------------------------------------------------------------------------
# T10 — dual-format date parsing (strings synthesized in two formats, parsed
# back with the multi-format coalesce helper).
# ---------------------------------------------------------------------------
@query(
    "t10_dual_format_dates",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN strftime(o_orderdate, '%Y-%m-%d')
                  ELSE strftime(o_orderdate, '%m/%d/%Y') END AS str
      FROM orders
    ), p AS (
      SELECT CAST(coalesce(try_strptime(str, '%Y-%m-%d'), try_strptime(str, '%m/%d/%Y')) AS DATE) AS d
      FROM s
    )
    SELECT CAST(year(d) AS INTEGER) AS yr, count(*) AS n FROM p GROUP BY 1
    """,
)
def t10_dual_format_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    s = o.select(
        F.when(
            F.col("o_orderkey") % 2 == 0, F.date_format("o_orderdate", "yyyy-MM-dd")
        )
        .otherwise(F.date_format("o_orderdate", "MM/dd/yyyy"))
        .alias("str")
    )
    parsed = s.select(to_date_multi(F.col("str")).alias("d"))
    return parsed.groupBy(F.year("d").alias("yr")).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# T11 — phone normalization over synthesized mixed-format numbers.
# ---------------------------------------------------------------------------
@query(
    "t11_phone_normalize",
    oracle="""
    WITH s AS (
      SELECT concat('+1-', lpad(CAST(user_id AS VARCHAR), 3, '0'), '-555-',
                    lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0'),
                    'x', CAST(user_id + 1 AS VARCHAR)) AS raw
      FROM events
    ), n AS (
      SELECT concat(regexp_replace(regexp_extract(raw, '^([^xX]*)', 1), '[^0-9]', '', 'g'),
                    'x', regexp_extract(raw, '[xX]([0-9]+)$', 1)) AS ph
      FROM s
    )
    SELECT count(DISTINCT ph) AS n_distinct, CAST(sum(length(ph)) AS BIGINT) AS total_len FROM n
    """,
)
def t11_phone_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    raw = F.concat(
        F.lit("+1-"),
        F.lpad(F.col("user_id").cast("string"), 3, "0"),
        F.lit("-555-"),
        F.lpad((F.col("event_id") % 10000).cast("string"), 4, "0"),
        F.lit("x"),
        (F.col("user_id") + 1).cast("string"),
    )
    normed = ev.select(normalize_phone(raw).alias("ph"))
    return normed.agg(
        F.countDistinct("ph").alias("n_distinct"),
        F.sum(F.length("ph")).cast("bigint").alias("total_len"),
    )


# ---------------------------------------------------------------------------
# T13 — NA-sentinel strings -> null -> numeric cast.
# ---------------------------------------------------------------------------
@query(
    "t13_na_sentinel_events",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN value < 10 THEN 'N/A' ELSE CAST(round(value, 2) AS VARCHAR) END AS raw
      FROM events
    ), c AS (
      SELECT CAST(CASE WHEN trim(raw) IN ('N/A','NA','null','') THEN NULL ELSE raw END AS DOUBLE) AS v
      FROM s
    )
    SELECT count(*) AS n,
           CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           round(avg(v), 4) AS avg_v
    FROM c
    """,
)
def t13_na_sentinel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    raw = F.when(F.col("value") < 10, F.lit("N/A")).otherwise(
        F.round(F.col("value"), 2).cast("string")
    )
    base = ev.select(raw.alias("v"))
    cleaned = transform.strip_na_sentinels(base, ["v"], cast_to="double")
    return cleaned.agg(
        F.count(F.lit(1)).alias("n"),
        aggregates.null_count_agg(cleaned, "v").alias("n_null"),
        F.round(F.avg("v"), 4).alias("avg_v"),
    )


# ---------------------------------------------------------------------------
# A2 — per-group stats (the reference's department-level analysis shape).
# ---------------------------------------------------------------------------
@query(
    "a2_group_stats_events",
    oracle="""
    SELECT event_type, count(*) AS n,
           round(avg(value), 4) AS avg_v,
           round(stddev_samp(value), 4) AS std_v,
           round(sum(value), 2) AS sum_v,
           round(min(value), 4) AS min_v,
           round(max(value), 4) AS max_v
    FROM events GROUP BY event_type
    """,
)
def a2_group_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return aggregates.group_agg(
        ev,
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_v"),
            F.round(F.stddev_samp("value"), 4).alias("std_v"),
            F.round(F.sum("value"), 2).alias("sum_v"),
            F.round(F.min("value"), 4).alias("min_v"),
            F.round(F.max("value"), 4).alias("max_v"),
        ],
    )


# ---------------------------------------------------------------------------
# A7 — correlation (single-pass co-moment aggregate).
# ---------------------------------------------------------------------------
@query(
    "a7_corr_lineitem",
    oracle="SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price FROM lineitem",
)
def a7_corr_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.agg(F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"))


# ---------------------------------------------------------------------------
# Joins — equi (broadcast dim), semi, anti, star-schema multi-join.
# ---------------------------------------------------------------------------
@query(
    "j1_revenue_by_segment",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_lineitems
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY c.c_mktsegment
    """,
)
def j1_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem")
    # customer is the small side of the star: broadcast it so the fact tables
    # join without shuffling customer; orders<->lineitem shuffles once on the
    # order key (AQE may still broadcast o at small SF).
    enriched = joins.equi_join(
        o, c.select("c_custkey", "c_mktsegment"), on=o.o_custkey == F.col("c_custkey"), how="inner",
        broadcast_right="auto",
    )
    full = joins.equi_join(li, enriched.select("o_orderkey", "c_mktsegment"),
                           on=F.col("l_orderkey") == F.col("o_orderkey"), how="inner")
    return full.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@query(
    "j2_customers_without_orders",
    oracle="""
    SELECT c_mktsegment AS segment, count(*) AS n
    FROM customer WHERE c_custkey NOT IN (
      SELECT o_custkey FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_orderdate >= DATE '1997-01-01'
    )
    GROUP BY c_mktsegment
    """,
)
def j2_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Customers with no URGENT orders since 1997 — the restriction keeps the
    # anti-join non-vacuous on the synthetic data (every customer has some
    # order, so the unrestricted version matched zero rows and proved nothing;
    # 37 rows at sf0.001, 367 at sf0.01).
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
    )
    missing = joins.anti_join(c, o.select(F.col("o_custkey").alias("c_custkey")), on="c_custkey")
    return missing.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "j3_customers_with_1997_orders",
    oracle="""
    SELECT c_nationkey AS nk, count(*) AS n
    FROM customer WHERE c_custkey IN (
      SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
    )
    GROUP BY c_nationkey
    """,
)
def j3_customers_with_1997_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1997)
    hit = joins.semi_join(c, o.select(F.col("o_custkey").alias("c_custkey")), on="c_custkey")
    return hit.groupBy(F.col("c_nationkey").alias("nk")).agg(F.count(F.lit(1)).alias("n"))


@query(
    "j4_revenue_by_region",
    oracle="""
    SELECT r.r_name AS region,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM region r
    JOIN nation n ON r.r_regionkey = n.n_regionkey
    JOIN customer c ON n.n_nationkey = c.c_nationkey
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY r.r_name
    """,
)
def j4_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = read_table(spark, sf_dir, "region")
    n = read_table(spark, sf_dir, "nation")
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    # dims collapse to a single broadcastable (custkey -> region) map; the only
    # real shuffle is orders<->lineitem on the order key.
    dim = (
        joins.equi_join(n, r, on=n.n_regionkey == r.r_regionkey, broadcast_right="auto")
        .select("n_nationkey", "r_name")
    )
    cust = joins.equi_join(
        c, dim, on=c.c_nationkey == dim.n_nationkey, broadcast_right="auto"
    ).select("c_custkey", "r_name")
    ord_dim = joins.equi_join(
        o.select("o_orderkey", "o_custkey"), cust, on=F.col("o_custkey") == F.col("c_custkey"),
        broadcast_right="auto",
    ).select("o_orderkey", "r_name")
    full = joins.equi_join(
        li.select("l_orderkey", "l_extendedprice", "l_discount"),
        ord_dim,
        on=F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return full.groupBy(F.col("r_name").alias("region")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


# ---------------------------------------------------------------------------
# Windows — ranking, cumulative (integer cents for bit-exact parity), lag.
# ---------------------------------------------------------------------------
@query(
    "w1_top_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) t WHERE rn = 1
    """,
)
def w1_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    top = windows.top_per_group(
        o, ["o_custkey"], [F.desc("o_totalprice"), F.asc("o_orderkey")], n=1
    )
    return top.select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"))


@query(
    "w2_cumulative_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
    FROM orders
    """,
)
def w2_cumulative_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").withColumn(
        "cents", F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    )
    cum = windows.cumulative(
        o, F.sum("cents"), ["o_custkey"], [F.asc("o_orderdate"), F.asc("o_orderkey")],
        alias="cum_cents",
    )
    return cum.select("o_custkey", "o_orderkey", "cum_cents")


@query(
    "w3_event_gaps",
    oracle="""
    SELECT user_id, event_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS gap_us
    FROM events
    """,
)
def w3_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").withColumn("us", F.unix_micros("ts"))
    lagged = windows.with_lag(
        ev, "us", ["user_id"], [F.asc("ts"), F.asc("event_id")], alias="us_prev"
    )
    return lagged.select(
        "user_id", "event_id", (F.col("us") - F.col("us_prev")).alias("gap_us")
    )


# ---------------------------------------------------------------------------
# Set operations — except/intersect on customer activity across years.
# ---------------------------------------------------------------------------
@query(
    "s1_setops_active_customers",
    oracle="""
    WITH y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
         y97 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
    SELECT CAST((SELECT count(*) FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y97) a) AS BIGINT) AS n_96_only,
           CAST((SELECT count(*) FROM (SELECT * FROM y96 INTERSECT SELECT * FROM y97) b) AS BIGINT) AS n_both,
           CAST((SELECT count(*) FROM (SELECT * FROM y96 UNION SELECT * FROM y97) c) AS BIGINT) AS n_either
    """,
)
def s1_setops_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Set-op semantics computed in ONE pass: per-custkey year flags (a single
    # shuffle on o_custkey), then a scalar aggregate of flag combinations.
    # EXCEPT = a AND NOT b, INTERSECT = a AND b, UNION = a OR b. The previous
    # version ran 3 driver-side .count() actions (~6 scans of orders); this is
    # one scan + one shuffle — the plan that survives 100 TB.
    o = read_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    flags = (
        o.filter(yr.isin(1996, 1997))
        .groupBy("o_custkey")
        .agg(
            F.max((yr == 1996).cast("int")).alias("a"),
            F.max((yr == 1997).cast("int")).alias("b"),
        )
    )
    return flags.agg(
        F.sum((F.col("a") == 1).cast("int") * (F.col("b") == 0).cast("int"))
        .cast("bigint")
        .alias("n_96_only"),
        F.sum((F.col("a") == 1).cast("int") * (F.col("b") == 1).cast("int"))
        .cast("bigint")
        .alias("n_both"),
        F.count(F.lit(1)).cast("bigint").alias("n_either"),
    )


# ---------------------------------------------------------------------------
# Pivot / rollup / cube.
# ---------------------------------------------------------------------------
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "pv1_pivot_events",
    oracle="""
    SELECT user_id % 10 AS bucket,
           {cols}
    FROM events GROUP BY user_id % 10
    """.format(
        cols=", ".join(
            f"round(sum(value) FILTER (WHERE event_type = '{t}'), 2) AS {t}" for t in _EVENT_TYPES
        )
    ),
)
def pv1_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").withColumn("bucket", F.col("user_id") % 10)
    return pivot.pivoted(
        ev, ["bucket"], "event_type", _EVENT_TYPES, F.round(F.sum("value"), 2)
    )


@query(
    "r1_rollup_orders",
    oracle="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def r1_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return pivot.rollup_agg(
        o.select(
            F.col("o_orderstatus").alias("status"), F.col("o_orderpriority").alias("priority"),
            "o_totalprice",
        ),
        ["status", "priority"],
        [F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")],
    )


@query(
    "c1_cube_orders",
    oracle="""
    SELECT o_orderstatus AS status, CAST(year(o_orderdate) AS INTEGER) AS yr, count(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, CAST(year(o_orderdate) AS INTEGER))
    """,
)
def c1_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"), F.year("o_orderdate").alias("yr")
    )
    return pivot.cube_agg(o, ["status", "yr"], [F.count(F.lit(1)).alias("n")])


# ---------------------------------------------------------------------------
# Sort / top-k (TakeOrderedAndProject — no global sort shuffle).
# ---------------------------------------------------------------------------
@query(
    "k1_top10_orders",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS price
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
)
def k1_top10_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    top = windows.top_k(o, [F.desc("o_totalprice"), F.asc("o_orderkey")], 10)
    return top.select("o_orderkey", F.round("o_totalprice", 2).alias("price"))


# ---------------------------------------------------------------------------
# J5 — as-of join (pd.merge_asof parity, SURVEY §2.6): for each 'click' event
# attach the most recent earlier 'purchase' value of the same user. Spark has
# no native ASOF JOIN; the operator is the union-merge + carry-forward-window
# pattern — ONE shuffle on user_id, linear in |L|+|R| (the naive range join
# is O(|L|·|R|) per key and dies at scale). DuckDB's native ASOF JOIN is the
# oracle. (user_id, ts) is unique in the testdata, so the match is
# deterministic; value passes through unchanged (no float arithmetic).
# ---------------------------------------------------------------------------
@query(
    "j5_asof_last_purchase",
    oracle="""
    SELECT a.event_id, b.value AS value_asof
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id AND a.ts >= b.ts
    """,
)
def j5_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click")
    purchases = e.filter(F.col("event_type") == "purchase")
    out = joins.asof_join(
        clicks, purchases, key="user_id", left_time="ts", right_time="ts",
        right_values=["value"],
    )
    return out.select("event_id", "value_asof")


# ---------------------------------------------------------------------------
# W4 — rolling window (7-row trailing mean of order value per customer).
# Integer-cents input keeps the frame sum bit-exact; avg of bigint → double
# matches DuckDB. One shuffle on o_custkey.
# ---------------------------------------------------------------------------
@query(
    "w4_rolling_avg_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(avg(CAST(round(o_totalprice * 100, 0) AS BIGINT))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS rolling_avg_cents
    FROM orders
    """,
)
def w4_rolling_avg_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    out = windows.rolling(
        o,
        F.avg("cents"),
        partition_by=["o_custkey"],
        order_by=[F.asc("o_orderdate"), F.asc("o_orderkey")],
        preceding=6,
        alias="rolling_avg_cents",
    )
    return out.select(
        "o_custkey", "o_orderkey", F.round("rolling_avg_cents", 4).alias("rolling_avg_cents")
    )


# ---------------------------------------------------------------------------
# X1 — crosstab / contingency table (pd.crosstab parity). Column dimension is
# a 3-value derived bucket — bounded schema by construction; Spark's crosstab
# runs a distinct pass + pivot-count. Oracle = explicit conditional counts.
# ---------------------------------------------------------------------------
@query(
    "x1_crosstab_events",
    oracle="""
    SELECT event_type AS event_type_bucket,
           CAST(sum(CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS "0",
           CAST(sum(CASE WHEN user_id % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS "1",
           CAST(sum(CASE WHEN user_id % 3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS "2"
    FROM events GROUP BY event_type
    """,
)
def x1_crosstab_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 3).cast("string").alias("bucket")
    )
    return pivot.crosstab(e, "event_type", "bucket")


# ---------------------------------------------------------------------------
# G1 — GROUPING SETS (explicit set list; rollup/cube generalization).
# ---------------------------------------------------------------------------
@query(
    "g1_grouping_sets_orders",
    oracle="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def g1_grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    return pivot.grouping_sets_agg(
        o,
        [["status"], ["priority"], []],
        ["status", "priority"],
        [F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total_cents")],
    )


# ---------------------------------------------------------------------------
# SM1 — seeded Bernoulli sample. The per-partition XORShift draws are
# Spark-specific, so the SAMPLE itself can't be value-matched — but its
# INVARIANTS can (round-3 verdict): the population count is exact, and the
# sampled count must land within 6 binomial standard deviations of f·n
# (p(false alarm) ~1e-9). Spark computes the verdict boolean from the real
# draw; the oracle states the invariant (`true`) — a drifted sampler
# hash-mismatches. Determinism-for-a-seed stays unit-tested.
# ---------------------------------------------------------------------------
_SM1_FRACTION = 0.1


@query(
    "sm1_seeded_sample_orders",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_total,
           true AS sample_within_6sd
    FROM orders
    """,
)
def sm1_seeded_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    sampled = aggregates.seeded_sample(o, _SM1_FRACTION, seed=42).select(
        F.lit(1).alias("__s")
    )
    counts = o.agg(F.count(F.lit(1)).alias("n_total")).crossJoin(
        sampled.agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    f = _SM1_FRACTION
    sd = F.sqrt(F.col("n_total") * f * (1.0 - f))
    return counts.select(
        F.col("n_total").cast("bigint").alias("n_total"),
        (F.abs(F.col("n_sampled") - F.col("n_total") * f) <= 6.0 * sd).alias(
            "sample_within_6sd"
        ),
    )


# ---------------------------------------------------------------------------
# AD1 — approx distinct count via HLL++ (rows-only: sketch is engine-
# specific; accuracy vs exact is unit-tested). The 100 TB default for
# cardinality: fixed-size sketches, no shuffle of values.
# ---------------------------------------------------------------------------
@query(
    "sb1_stratified_sample_events",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_total,
           true AS stratum_within_6sd
    FROM events
    WHERE event_type IS NOT NULL
    GROUP BY event_type
    """,
)
def sb1_stratified_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-rebalancing downsample (aggregates.stratified_sample): keep all
    rare 'error' events, 10% of everything else — the imbalanced-training-set
    primitive. The Bernoulli draw is engine-specific, so the invariant is the
    oracle (round-3 verdict): per-stratum population counts are exact, and
    each stratum's sampled count must land within 6 binomial sd of f·n — with
    the f=1.0 'error' stratum collapsing to EXACT equality (sd is 0).
    Determinism and stratum gating stay unit-tested."""
    from agent_data_wrangler_spark.operators.aggregates import stratified_sample

    ev = read_table(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    frac = {t: (1.0 if t == "error" else 0.1) for t in _EVENT_TYPES}
    sampled = stratified_sample(ev, "event_type", frac, seed=42)
    totals = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_total"))
    per_stratum = sampled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_sampled")
    )
    fcol = (
        F.when(F.col("event_type") == "error", F.lit(1.0))
        .when(F.col("event_type").isin(*_EVENT_TYPES), F.lit(0.1))
        .otherwise(F.lit(0.0))  # strata outside `frac` are dropped by sampleBy
    )
    sd = F.sqrt(F.col("n_total") * fcol * (1.0 - fcol))
    return (
        totals.join(per_stratum, "event_type", "left")
        .select(
            "event_type",
            F.col("n_total").cast("bigint").alias("n_total"),
            (
                F.abs(F.coalesce(F.col("n_sampled"), F.lit(0)) - F.col("n_total") * fcol)
                <= 6.0 * sd
            ).alias("stratum_within_6sd"),
        )
    )


@query(
    "ad1_approx_distinct_customers",
    oracle="""
    SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
           true AS approx_within_4rsd
    FROM orders
    """,
)
def ad1_approx_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch values are engine-specific, so the driver-checkable
    surface is the invariant (round-3 verdict): the exact distinct count
    (hash-matched against DuckDB) plus a boolean asserting the sketch landed
    within 4·rsd of it — HLL++ at rsd=0.05 is typically within 2·rsd, so the
    margin is real but a broken sketch still trips it. One pass computes both
    aggregates side by side (map-side sketch + distinct shuffle)."""
    o = read_table(spark, sf_dir, "orders")
    rsd = 0.05
    both = o.agg(
        F.countDistinct("o_custkey").alias("exact_distinct"),
        F.approx_count_distinct("o_custkey", rsd=rsd).alias("approx"),
    )
    return both.select(
        F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        (
            F.abs(F.col("approx") - F.col("exact_distinct"))
            <= 4.0 * rsd * F.col("exact_distinct")
        ).alias("approx_within_4rsd"),
    )


# ---------------------------------------------------------------------------
# U1 — §2.8 escape hatch: per-group z-score via applyInPandas (the
# distributed groupby().apply the reference's pandas programs rely on), then
# a per-group summary. The pandas stage ships each event_type group to a
# worker as one Arrow frame; the oracle re-derives the same z-scores with
# window functions. ddof=1 both sides.
# ---------------------------------------------------------------------------
@query(
    "u1_zscore_by_type_events",
    oracle="""
    WITH z AS (
      SELECT event_type,
             abs((value - avg(value) OVER (PARTITION BY event_type))
                 / nullif(stddev_samp(value) OVER (PARTITION BY event_type), 0)) AS az
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n, round(avg(az), 4) AS avg_abs_z
    FROM z GROUP BY event_type
    """,
)
def u1_zscore_by_type_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from agent_data_wrangler_spark.operators.pandas_ops import grouped_transform

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"].dropna()
        std = v.std(ddof=1)
        # Single-row groups: std is NaN (truthy!) — must yield None like the
        # oracle's nullif(stddev_samp, 0), not an avg_abs_z of NaN.
        az = ((v - v.mean()) / std).abs() if pd.notna(std) and std else None
        return pd.DataFrame(
            {"event_type": pdf["event_type"].iloc[:1], "n": [int(v.size)],
             "avg_abs_z": [round(float(az.mean()), 4) if az is not None else None]}
        )

    e = read_table(spark, sf_dir, "events").select("event_type", "value")
    return grouped_transform(
        e, ["event_type"], zscore, "event_type string, n bigint, avg_abs_z double"
    )


# ---------------------------------------------------------------------------
# JN1 — JSON/map scalar functions over events.props (SURVEY §2.6 collection
# fns). get_json_object / from_json are JVM expressions — the whole parse
# happens inside the scan stage; the only shuffle is |event_type| rows.
# ---------------------------------------------------------------------------
@query(
    "jn1_json_map_events",
    oracle="""
    SELECT event_type,
           CAST(count(k) AS BIGINT) AS n_with_k,
           round(avg(k), 4) AS avg_k,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k,
           'k' AS first_key
    FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events)
    GROUP BY event_type
    """,
)
def jn1_json_map_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agent_data_wrangler_spark.functions.collections import (
        json_get_typed,
        json_to_map,
        sorted_keys,
    )

    e = read_table(spark, sf_dir, "events")
    parsed = e.select(
        "event_type",
        json_get_typed("props", "$.k", "bigint").alias("k"),
        sorted_keys(json_to_map("props")).alias("keys"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.round(F.avg("k"), 4).alias("avg_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.min(F.element_at("keys", 1)).alias("first_key"),
    )


# ---------------------------------------------------------------------------
# J6 — fact ⋈ small dim: revenue by part brand. The part table broadcasts
# (a few MB per million parts of projected columns); the plan is scan →
# broadcast hash join → partial/final agg — the fact table never shuffles
# except |brands| aggregate rows.
# ---------------------------------------------------------------------------
@query(
    "j6_brand_revenue",
    oracle="""
    SELECT p_brand, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def j6_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice", "l_discount")
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = joins.equi_join(
        li, p.withColumnRenamed("p_partkey", "l_partkey"), "l_partkey", broadcast_right="auto"
    )
    return joined.groupBy("p_brand").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# J7 — multi-hop dim collapse (j4's pattern on the supplier side): supplier →
# nation → region folds into ONE broadcastable suppkey→region map before
# touching the fact table, so lineitem joins exactly once and never shuffles.
# ---------------------------------------------------------------------------
@query(
    "j7_supplier_region_revenue",
    oracle="""
    SELECT r_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def j7_supplier_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice", "l_discount")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    supp_region = (
        s.join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .select(F.col("s_suppkey").alias("l_suppkey"), "r_name")
    )
    joined = joins.equi_join(li, supp_region, "l_suppkey", broadcast_right="auto")
    return joined.groupBy("r_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


# ---------------------------------------------------------------------------
# S2Q — genuine set operators (INTERSECT / EXCEPT as row-set algebra; the
# scalar-flag rewrite in s1 covers the common "compare key sets" case with
# one scan, but the general row-level operators remain part of the surface —
# e.g. clean-vs-dirty row diffs, SURVEY §2.6). Both compile to partial+final
# hash aggregates.
# ---------------------------------------------------------------------------
@query(
    "s2_setops_priority_rows",
    oracle="""
    WITH hi AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
         lo AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
    SELECT o_custkey, 'both' AS src FROM (SELECT o_custkey FROM hi INTERSECT SELECT o_custkey FROM lo)
    UNION ALL
    SELECT o_custkey, 'hi_only' AS src FROM (SELECT o_custkey FROM hi EXCEPT SELECT o_custkey FROM lo)
    """,
)
def s2_setops_priority_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agent_data_wrangler_spark.operators import setops

    o = read_table(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    lo = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    both = setops.intersect_rows(hi, lo).withColumn("src", F.lit("both"))
    hi_only = setops.diff_rows(hi, lo, keep_duplicates=False).withColumn("src", F.lit("hi_only"))
    return setops.union_all(both, hi_only)


# ---------------------------------------------------------------------------
# P5A — describe with APPROXIMATE percentiles: the 100 TB default. Exact
# percentile (p5) buffers per-partition value maps — the known OOM risk on
# high-cardinality doubles; percentile_approx is a fixed-size sketch. Sketch
# quantiles are engine-specific, so the driver-checkable surface (round-3
# verdict) is the exact moment stats (count/mean/std/min/max, hash-matched)
# plus per-quartile booleans asserting each sketch value lies within the
# exact ±1.5%-rank envelope — percentile_approx's documented guarantee is
# 1% rank error at the default accuracy, so the margin is real but a broken
# sketch still trips it.
# ---------------------------------------------------------------------------
_P5A_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


@query(
    "p5a_describe_approx_lineitem",
    oracle="""
    SELECT col AS col_name,
           CAST(cnt AS BIGINT) AS n, round(mean, 4) AS mean,
           round(std, 4) AS std, min AS min_v, max AS max_v,
           true AS p25_in_env, true AS p50_in_env, true AS p75_in_env
    FROM (
      SELECT 'l_quantity' AS col, count(l_quantity) AS cnt, avg(l_quantity) AS mean,
             stddev_samp(l_quantity) AS std, CAST(min(l_quantity) AS DOUBLE) AS min,
             CAST(max(l_quantity) AS DOUBLE) AS max FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', count(l_extendedprice), avg(l_extendedprice),
             stddev_samp(l_extendedprice), CAST(min(l_extendedprice) AS DOUBLE),
             CAST(max(l_extendedprice) AS DOUBLE) FROM lineitem
      UNION ALL
      SELECT 'l_discount', count(l_discount), avg(l_discount),
             stddev_samp(l_discount), CAST(min(l_discount) AS DOUBLE),
             CAST(max(l_discount) AS DOUBLE) FROM lineitem
    )
    ORDER BY col_name
    """,
)
@checkpointed
def p5a_describe_approx_lineitem(
    h: Held, spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    # Kept: the 3-row describe frame feeds TWO consumers (the sketch
    # pivot below and the final join) — uncached, Catalyst replans the
    # full sketch scan into each (the tw1 lesson).
    approx = h.keep(profile.describe_numeric(li, _P5A_COLS, approx=True))
    # Exact rank envelope by COUNTING, not by exact percentile (r12): the
    # previous form inverted ranks with one exact-percentile aggregate,
    # which buffers every column value per partition — the very OOM shape
    # p5a exists to avoid, and (measured, NOTES_r12) an allocation/GC-bound
    # stage whose ±0.6 s run-to-run spread made p5a the noisiest family in
    # the sweep table two rounds running. Counting rows below each sketch
    # value checks the SAME ±1.5%-rank contract with two plain scan
    # aggregates and constant memory: a sketch value s passes quantile q
    # iff its duplicate-mass rank interval [count(<s)+1, count(<=s)]
    # intersects [(q-eps)n, (q+eps)n] — the interval form matters because
    # low-cardinality columns (l_discount, l_quantity) carry >1% of mass on
    # single values.
    eps = 0.015
    quantiles = (0.25, 0.50, 0.75)
    sketch_wide = approx.agg(
        *[
            F.max(F.when(F.col("column") == c, F.col(f"p{int(q * 100)}"))).alias(
                f"{c}__s{int(q * 100)}"
            )
            for c in _P5A_COLS
            for q in quantiles
        ]
    )
    rank_aggs = []
    for c in _P5A_COLS:
        col = F.col(c).cast("double")
        rank_aggs.append(F.count(col).alias(f"{c}__n"))
        for q in quantiles:
            s = F.col(f"{c}__s{int(q * 100)}")
            rank_aggs.extend(
                [
                    F.count(F.when(col < s, 1)).alias(f"{c}__lt{int(q * 100)}"),
                    F.count(F.when(col <= s, 1)).alias(f"{c}__le{int(q * 100)}"),
                ]
            )
    ranks = li.crossJoin(F.broadcast(sketch_wide)).agg(*rank_aggs)

    def in_env(c: str, q: float) -> str:
        tag = int(q * 100)
        return (
            f"`{c}__lt{tag}` + 1 <= ({q} + {eps}) * `{c}__n` "
            f"AND `{c}__le{tag}` >= ({q} - {eps}) * `{c}__n`"
        )

    rows = ", ".join(
        f"'{c}', {in_env(c, 0.25)}, {in_env(c, 0.50)}, {in_env(c, 0.75)}"
        for c in _P5A_COLS
    )
    env_long = ranks.select(
        F.expr(
            f"stack({len(_P5A_COLS)}, {rows}) as "
            "(column, p25_in_env, p50_in_env, p75_in_env)"
        )
    )
    joined = approx.join(F.broadcast(env_long), "column")
    return joined.select(
        F.col("column").alias("col_name"),
        F.col("count").cast("bigint").alias("n"),
        F.round("mean", 4).alias("mean"),
        F.round("std", 4).alias("std"),
        F.col("min").cast("double").alias("min_v"),
        F.col("max").cast("double").alias("max_v"),
        "p25_in_env", "p50_in_env", "p75_in_env",
    ).orderBy("col_name")


# ---------------------------------------------------------------------------
# U2 — scalar pandas_udf (§2.8) with a full oracle: per-customer digit sum of
# the name, aggregated per market segment. Integer outputs end-to-end, so the
# hash comparison has zero float noise. The UDF body is vectorized pandas
# string ops over Arrow batches (the sanctioned "columnwise logic with no
# Column builtin" path); everything around it stays in codegen.
# ---------------------------------------------------------------------------
@query(
    "u2_name_digitsum_customers",
    oracle=r"""
    WITH d AS (
      SELECT c_mktsegment AS segment,
             CASE WHEN c_name IS NULL OR regexp_replace(c_name, '\D', '', 'g') = '' THEN 0
                  ELSE list_aggregate(list_transform(
                         str_split(regexp_replace(c_name, '\D', '', 'g'), ''),
                         x -> CAST(x AS BIGINT)), 'sum')
             END AS ds
      FROM customer
    )
    SELECT segment, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(ds) AS BIGINT) AS total_digitsum,
           CAST(max(ds) AS BIGINT) AS max_digitsum
    FROM d GROUP BY segment
    """,
)
def u2_name_digitsum_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from agent_data_wrangler_spark.operators.pandas_ops import scalar_pandas_udf

    # NB: no type hints — PEP 563 stringized annotations (this module's
    # `from __future__ import annotations`) break PySpark's UDF hint parser.
    def digit_sum(s):
        digits = s.fillna("").str.replace(r"\D", "", regex=True)
        return digits.map(lambda d: sum(map(int, d)) if d else 0).astype("int64")

    ds = scalar_pandas_udf(digit_sum, "bigint")
    c = read_table(spark, sf_dir, "customer")
    return (
        c.select(F.col("c_mktsegment").alias("segment"), ds("c_name").alias("ds"))
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("ds").alias("total_digitsum"),
            F.max("ds").alias("max_digitsum"),
        )
    )


# ---------------------------------------------------------------------------
# U3 — grouped-agg pandas_udf (§2.8) with a full oracle: 10% two-sided
# trimmed mean of order totals per priority (the classic robust statistic
# with no Column builtin). The whole group ships to Python (grouped-agg UDFs
# have no partial aggregation) — acceptable because |group| is bounded by the
# priority cardinality split; for unbounded groups the percentile-cap
# operator (t6) is the scalable alternative. The kept-row count is derived
# with built-in expressions (count - 2*floor(count/10)), matching the
# oracle's row_number window filter exactly.
# ---------------------------------------------------------------------------
@query(
    "u3_trimmed_mean_orders",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority AS priority, o_totalprice AS v,
             row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders WHERE o_totalprice IS NOT NULL
    )
    SELECT priority, CAST(count(*) AS BIGINT) AS n_kept, round(avg(v), 4) AS trimmed_mean
    FROM r
    WHERE rn > CAST(floor(n * 0.1) AS BIGINT) AND rn <= n - CAST(floor(n * 0.1) AS BIGINT)
    GROUP BY priority
    """,
)
def u3_trimmed_mean_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from agent_data_wrangler_spark.operators.pandas_ops import grouped_agg_pandas_udf

    def _core(v):
        vals = v.dropna().sort_values()
        k = int(len(vals) * 0.1)
        return vals.iloc[k : len(vals) - k] if len(vals) > 2 * k else vals

    def trimmed(v):
        return float(_core(v).mean())

    def kept(v):
        return int(len(_core(v)))

    # Spark refuses to mix grouped-agg pandas UDFs with built-in aggregates
    # in one agg ([INVALID_PANDAS_UDF_PLACEMENT]), so the kept-count is a
    # second pandas aggregate — both ride the same single shuffle.
    tm = grouped_agg_pandas_udf(trimmed, "double")
    nk = grouped_agg_pandas_udf(kept, "bigint")
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        nk("o_totalprice").alias("n_kept"),
        F.round(tm("o_totalprice"), 4).alias("trimmed_mean"),
    )


# ---------------------------------------------------------------------------
# PL1 — the declarative pipeline layer end-to-end (SURVEY §3/§7): a
# JSON-shaped spec (drop-null → 3σ filter → p95 cap) resolved against the
# introspected operator registry, executed by plans/pipeline.Pipeline, and
# aggregated. This is the deterministic target the reference's LLM planner
# would emit to — the spec is DATA (loggable, diffable, replayable), and the
# driver's oracle proves the composed stages compute exactly what the SQL
# says. Stages stay lazy (count_rows=False): the whole pipeline is ONE
# Catalyst plan, so the stage-5 aggregate's column pruning reaches the
# stage-0 scan.
# ---------------------------------------------------------------------------
_PL1_SPEC = [
    {"stage": "drop_null_values", "op": "drop_null_rows",
     "params": {"subset": ["value"]}},
    {"stage": "sigma3_filter", "op": "sigma_outlier_filter",
     "params": {"columns": ["value"], "k": 3.0}},
    {"stage": "cap_p95", "op": "cap_percentile",
     "params": {"columns": ["value"], "p": 0.95}},
]


@query(
    "pl1_pipeline_spec_events",
    oracle="""
    WITH base AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
    b AS (SELECT avg(value) - 3 * stddev_samp(value) AS lo,
                 avg(value) + 3 * stddev_samp(value) AS hi FROM base),
    f AS (SELECT event_type, value FROM base, b
          WHERE value >= lo AND value <= hi),
    p AS (SELECT quantile_cont(value, 0.95) AS p95 FROM f),
    c AS (SELECT event_type, least(value, p95) AS value FROM f, p)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS sum_value,
           round(avg(value), 4) AS avg_value
    FROM c GROUP BY 1
    """,
)
def pl1_pipeline_spec_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agent_data_wrangler_spark.plans.pipeline import Pipeline

    ev = read_table(spark, sf_dir, "events").select("event_type", "value")
    pipe = Pipeline.from_spec("pl1_clean_events", _PL1_SPEC)
    cleaned = pipe.run(ev).df
    return cleaned.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# PL2 — the pipeline's JSONL EVENT LOG itself as the verified surface (S5,
# reference: the run provenance the LangGraph loop keeps in its message
# history): run the pl1 spec with per-stage row counting and a log file,
# replay that log through the engine's own JSONL reader, and hash the
# (event, stage, rows_in, rows_out) trace against an oracle that recomputes
# every stage cardinality from SQL. Timing fields are real but excluded (a
# wall-clock column can never hash-match). This retires S5's unit-only
# status: the lineage artifact is now driver-verified end-to-end.
# Scale: the log is O(#stages) lines — driver-side appends are bounded by
# pipeline length, never data size; the replay is a normal splittable scan.
# ---------------------------------------------------------------------------
@query(
    "pl2_pipeline_event_log_events",
    oracle="""
    WITH c0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events),
    c1 AS (SELECT CAST(count(value) AS BIGINT) AS n FROM events),
    b AS (SELECT avg(value) - 3 * stddev_samp(value) AS lo,
                 avg(value) + 3 * stddev_samp(value) AS hi
          FROM events WHERE value IS NOT NULL),
    c2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events, b
           WHERE value >= lo AND value <= hi)
    SELECT 'pipeline_start' AS event, CAST(NULL AS VARCHAR) AS stage,
           CAST(NULL AS BIGINT) AS rows_in, CAST(NULL AS BIGINT) AS rows_out
    UNION ALL SELECT 'stage_start', 'drop_null_values', NULL, NULL
    UNION ALL SELECT 'stage_end', 'drop_null_values',
                     (SELECT n FROM c0), (SELECT n FROM c1)
    UNION ALL SELECT 'stage_start', 'sigma3_filter', NULL, NULL
    UNION ALL SELECT 'stage_end', 'sigma3_filter',
                     (SELECT n FROM c1), (SELECT n FROM c2)
    UNION ALL SELECT 'stage_start', 'cap_p95', NULL, NULL
    UNION ALL SELECT 'stage_end', 'cap_p95',
                     (SELECT n FROM c2), (SELECT n FROM c2)
    UNION ALL SELECT 'pipeline_end', NULL, NULL, (SELECT n FROM c2)
    """,
)
def pl2_pipeline_event_log_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from agent_data_wrangler_spark.plans.pipeline import Pipeline
    from agent_data_wrangler_spark.sources.readers import read_jsonl

    def build(base: str) -> str:
        log_path = os.path.join(base, "pipeline_events.jsonl")
        ev = read_table(spark, sf_dir, "events").select("event_type", "value")
        Pipeline.from_spec(
            "pl2_clean_events", _PL1_SPEC, count_rows=True, log_path=log_path,
        ).run(ev)
        return log_path

    # The log is written once per events version; the replay reads the four
    # traced fields under their declared types, so it fires no inference job.
    log_path = staged(sf_dir, ("events",), ("pl2",), build)
    return read_jsonl(spark, log_path, schema=StructType([
        StructField("event", StringType()),
        StructField("stage", StringType()),
        StructField("rows_in", LongType()),
        StructField("rows_out", LongType()),
    ]))


# ---------------------------------------------------------------------------
# P7 — the profile CACHE surface (reference: system.txt:2 basic_info computed
# once; tool_call_agent.py:143-145 forbids re-exploring): TableProfile.of()
# reified as a 1-row frame so the driver hash-verifies the cached shape,
# column census, and null counts in one row. The struct is O(#columns) —
# driver-side by design (it IS the cache object other stages reuse), and the
# backing scan is the same one-pass null-census aggregate p6 verifies.
# ---------------------------------------------------------------------------
@query(
    "p7_profile_cache_events",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(6 AS BIGINT) AS n_cols,
           CAST(count(*) - count(event_id) AS BIGINT) AS null_event_id,
           CAST(count(*) - count(ts) AS BIGINT) AS null_ts,
           CAST(count(*) - count(user_id) AS BIGINT) AS null_user_id,
           CAST(count(*) - count(event_type) AS BIGINT) AS null_event_type,
           CAST(count(*) - count(value) AS BIGINT) AS null_value,
           CAST(count(*) - count(props) AS BIGINT) AS null_props
    FROM events
    """,
)
def p7_profile_cache_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agent_data_wrangler_spark.operators.profile import TableProfile

    ev = read_table(spark, sf_dir, "events")
    prof = TableProfile.of(ev)
    row = {
        "n_rows": prof.n_rows,
        "n_cols": prof.n_cols,
        **{f"null_{c}": int(prof.null_counts.get(c, 0)) for c in prof.columns},
    }
    return spark.createDataFrame(
        [tuple(row[k] for k in row)],
        ", ".join(f"{k} bigint" for k in row),
    )


# ---------------------------------------------------------------------------
# U4 — Python UDTF (§2.8, the table-function escape hatch): one doc row →
# N token rows via a generator class, consumed through a SQL LATERAL join,
# then aggregated per lang. Oracle: the same explosion as DuckDB unnest.
# Scale: rows stream through Python — this query EXISTS to prove the wrapper
# end-to-end; the docstring on make_udtf says prefer F.explode when
# expressible (ch1/n2 do exactly that), and the token semantics here are
# whitespace str.split(), matching functions/text.tokens on ASCII corpora.
# ---------------------------------------------------------------------------
@query(
    "u4_udtf_tokens_documents",
    oracle=r"""
    WITH tk AS (
      SELECT lang,
             unnest(CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = ''
                         THEN CAST([] AS VARCHAR[])
                         ELSE regexp_split_to_array(
                                regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
                    END) AS token
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)        AS n_tokens,
           CAST(sum(len(token)) AS BIGINT) AS total_chars,
           CAST(max(len(token)) AS INTEGER) AS max_len
    FROM tk GROUP BY lang
    """,
)
def u4_udtf_tokens_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agent_data_wrangler_spark.operators.pandas_ops import make_udtf

    class Tokenize:
        def eval(self, text: str):
            if text:
                for tok in text.split():
                    yield (tok,)

    spark.udtf.register("u4_tokenize", make_udtf(Tokenize, "token string"))
    d = read_table(spark, sf_dir, "documents")
    d.select("lang", "text").createOrReplaceTempView("u4_docs")
    exploded = spark.sql(
        "SELECT d.lang, t.token FROM u4_docs d, LATERAL u4_tokenize(d.text) t"
    )
    return exploded.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.length("token")).cast("bigint").alias("total_chars"),
        F.max(F.length("token")).cast("int").alias("max_len"),
    )


def _staged_export(
    spark: SparkSession, sf_dir: str, fmt: str, filename: str,
    spread: bool = False,
) -> str:
    """Events exported through the versioned sink as ``fmt``, staged once
    per session and source identity (:func:`derived.staged`)."""
    import os

    from agent_data_wrangler_spark.sources.readers import widen_scan
    from agent_data_wrangler_spark.sources.writers import write_versioned

    def build(base: str) -> str:
        ev = read_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        if spread:
            # r14-opt: export as cores-many files instead of one, so the
            # re-read's schema-INFERENCE pass (the declared verified surface
            # of the roundtrip queries — it must stay) and the parse both
            # parallelize; a one-file XML export made xm1's inference a 3 s
            # single-task stage. Opt-in per format: xm1's aggregates are
            # exact integers, while the CSV/JSON roundtrips sum raw doubles
            # whose partial-sum order the single-file layout keeps
            # deterministic.
            ev = widen_scan(ev)
        return write_versioned(ev, os.path.join(base, filename), fmt=fmt)

    return staged(sf_dir, ("events",), (fmt, filename, spread), build)


# ---------------------------------------------------------------------------
# CSV1 — the reference's actual ingestion format, end-to-end (S1 + S2 + T13):
# export events through the versioned no-overwrite CSV sink, re-read with the
# multi-sentinel inferring CSV reader, and aggregate — proving the
# write→scan→infer loop preserves values bit-for-bit (Spark writes doubles as
# shortest round-trip repr). The oracle reads the ORIGINAL parquet, so any
# loss in the CSV round-trip (dropped rows, dtype drift, null mangling)
# breaks the hash. Scale: CSV is the reference-parity/export path only —
# inferSchema costs an extra pass and the docstring on read_csv mandates
# explicit schemas at scale; parquet remains the primary format.
# ---------------------------------------------------------------------------
@query(
    "csv1_roundtrip_events",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def csv1_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agent_data_wrangler_spark.sources.readers import read_csv

    out = _staged_export(spark, sf_dir, "csv", "events.csv")
    back = read_csv(spark, out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# CM1 — small-file compaction end-to-end (writers.compact), retiring the
# layout row's last unit-only leg: fragment events into 64 tiny parquet
# files (the streaming-sink accretion pattern compact() exists to undo),
# compact into the versioned sibling, and emit (a) HARD content values the
# oracle recomputes from the original parquet — any row lost or value
# drifted by the rewrite breaks the hash — and (b) layout verdict booleans:
# the compacted directory must hold strictly fewer data files, within the
# size-derived bound. Verdict-oracle pattern as zo1/n5/hs1.
# Scale: compact() is the daily janitor against open/footer overhead; the
# coalesce path merges scan partitions shuffle-free.
# ---------------------------------------------------------------------------
@query(
    "cm1_compaction_events",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           TRUE AS compacted_fewer,
           TRUE AS file_bound_ok
    FROM events
    """,
)
def cm1_compaction_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from agent_data_wrangler_spark.sources.writers import compact

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")

    def n_data_files(p: str) -> int:
        return sum(1 for f in os.listdir(p)
                   if not f.startswith(("_", ".")))

    def build(base: str) -> tuple[str, int, int, int]:
        frag = os.path.join(base, "events_frag")
        ev.repartition(64).write.parquet(frag)
        before = n_data_files(frag)
        # compact(target_mb=128) writes ceil(OUTPUT_bytes/128MB) files, so
        # the verdict's upper bound must be derived from the measured input
        # size — a hard-coded constant would flip false at scale factors
        # where the projection exceeds 1 GB even though compaction worked
        # (the floor of 8 keeps slack at tiny SFs where one file is
        # expected). The 1.5× headroom covers re-encoding growth: merged
        # files can exceed the fragmented input's bytes (bigger row groups
        # change dictionary/RLE wins, compression ratios shift), and a
        # bound keyed to INPUT bytes alone would flip false at large SF
        # even though compaction worked (r09 ADVICE).
        frag_bytes = sum(
            os.path.getsize(os.path.join(frag, f))
            for f in os.listdir(frag) if not f.startswith(("_", ".")))
        bound = max(8, -(-(3 * frag_bytes) // (2 * 128 * 1024 * 1024)))
        out = compact(spark, frag, target_mb=128)
        return out, before, n_data_files(out), bound

    out, before, after, bound = staged(sf_dir, ("events",), ("cm1",), build)
    # ev's schema: no footer-inference job, so a repeat call fires none.
    back = spark.read.schema(ev.schema).parquet(out)
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint").alias("sum_cents"),
        F.count_distinct("event_type").cast("bigint").alias("n_types"),
    ).select(
        "n_rows", "sum_cents", "n_types",
        F.lit(after < before).alias("compacted_fewer"),
        F.lit(1 <= after <= bound).alias("file_bound_ok"),
    )


# ---------------------------------------------------------------------------
# BIN1 — binaryFile ingestion end-to-end (readers.read_binary_files),
# retiring its unit-only status: stage the first 50 documents as one .txt
# file each (utf-8 bytes; a bounded 50-row driver staging loop, same
# contract as the streaming _staged_events fixture), ingest the directory
# through the binaryFile source, and hash (file count, total byte length,
# distinct md5-of-bytes) against DuckDB recomputing the identical values
# from the documents table (strlen-bytes/md5 over the same utf-8 text).
# Any dropped file, truncated payload, or byte mangling in the ingest path
# breaks the hash. Scale: one row per file is the ingest contract; the
# docstring mandates compaction into parquet binary columns upstream of
# the multimodal operators (mm1-mm3 consume exactly that layout).
# ---------------------------------------------------------------------------
@query(
    "bin1_binaryfile_ingest_documents",
    oracle="""
    WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 50)
    SELECT CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_md5
    FROM d
    """,
)
def bin1_binaryfile_ingest_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from agent_data_wrangler_spark.sources.readers import read_binary_files

    def build(base: str) -> str:
        docs = (
            read_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 50)
            .select("doc_id", "text")
            .collect()  # bounded: 50 rows, staging fixture only
        )
        for r in docs:
            with open(os.path.join(base, f"doc_{r['doc_id']:05d}.txt"),
                      "wb") as fh:
                fh.write((r["text"] or "").encode("utf-8"))
        return base

    stage = staged(sf_dir, ("documents",), ("bin1",), build)
    files = read_binary_files(spark, stage, glob="*.txt")
    return files.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("length").cast("bigint").alias("total_bytes"),
        F.count_distinct(F.md5("content")).cast("bigint")
        .alias("n_distinct_md5"),
    )


# ---------------------------------------------------------------------------
# ZO1 — the z-order clustered layout end-to-end (writers.write_zorder),
# retiring its unit-only status: write events Morton-interleaved on
# (user_id, value) into a bounded file count, re-read, and emit (a) HARD
# content values the oracle recomputes from the original parquet (count,
# integer cents, distinct users — any row loss or value drift in the
# rewrite breaks the hash) and (b) LAYOUT verdict booleans computed from
# per-file min/max statistics via input_file_name(): the file count must
# respect the requested bound, and the mean per-file user_id span must be
# well under the global span — the data-skipping property that makes the
# layout worth paying a range shuffle for (a random layout measures ~1.0;
# the z-curve's top bits split the user dimension first, measuring ~0.4).
# Verdict-oracle pattern as n5/hs1: DuckDB asserts the booleans TRUE.
# ---------------------------------------------------------------------------
@query(
    "zo1_zorder_layout_events",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           TRUE AS files_ok,
           TRUE AS clustered
    FROM events
    """,
)
def zo1_zorder_layout_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from agent_data_wrangler_spark.sources.writers import write_zorder

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value")

    def build(base: str) -> str:
        out = os.path.join(base, "events_z")
        write_zorder(ev, out, ["user_id", "value"], num_files=8)
        return out

    # ev's schema: no footer-inference job, so a repeat call fires none.
    back = spark.read.schema(ev.schema).parquet(
        staged(sf_dir, ("events",), ("zo1",), build))

    per_file = back.groupBy(F.input_file_name().alias("f")).agg(
        F.min("user_id").alias("lo"), F.max("user_id").alias("hi"))
    bounds = ev.agg(
        F.min("user_id").alias("glo"), F.max("user_id").alias("ghi"))
    layout = per_file.crossJoin(F.broadcast(bounds)).agg(
        F.count(F.lit(1)).alias("n_files"),
        F.avg(
            (F.col("hi") - F.col("lo"))
            / F.greatest(F.col("ghi") - F.col("glo"), F.lit(1))
        ).alias("avg_span"),
    )
    content = back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint").alias("sum_cents"),
        F.count_distinct(F.col("user_id")).cast("bigint").alias("n_users"),
    )
    return content.crossJoin(F.broadcast(layout)).select(
        "n_rows", "sum_cents", "n_users",
        ((F.col("n_files") >= 2) & (F.col("n_files") <= 8)).alias("files_ok"),
        (F.col("avg_span") <= 0.8).alias("clustered"),
    )


# ---------------------------------------------------------------------------
# RJ1 — range join (point-in-interval): events bucketed into literal time
# bands via operators/joins.range_join. The operator converts the non-equi
# range predicate into a bucket-exploded EQUI hash join with a residual
# filter — the naive join(cond) would plan as BroadcastNestedLoopJoin,
# O(|L|·|R|) comparisons, which dies the moment the interval side outgrows a
# broadcast. Oracle: the plain BETWEEN join DuckDB optimizes natively (IEJoin).
# ---------------------------------------------------------------------------
_RJ1_BANDS = [
    ("w1", "2024-01-01 00:00:00", "2024-01-06 00:00:00"),
    ("w2", "2024-01-06 00:00:00", "2024-01-11 00:00:00"),
    ("w3", "2024-01-11 00:00:00", "2024-01-16 00:00:00"),
    ("w4", "2024-01-16 00:00:00", "2024-01-21 00:00:00"),
    ("w5", "2024-01-21 00:00:00", "2024-01-26 00:00:00"),
    ("w6", "2024-01-26 00:00:00", "2024-01-31 00:00:00"),
]
_RJ1_VALUES = ", ".join(
    f"('{b}', TIMESTAMP '{s}', TIMESTAMP '{e}')" for b, s, e in _RJ1_BANDS
)


@query(
    "rj1_time_bands_events",
    oracle=f"""
    WITH bands(band, b_start, b_end) AS (VALUES {_RJ1_VALUES})
    SELECT band, CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_value
    FROM events e JOIN bands b ON e.ts >= b.b_start AND e.ts < b.b_end
    GROUP BY band
    """,
)
def rj1_time_bands_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select("ts", "value")
    # inline(array(struct...)) keeps the literal band table JVM-local —
    # createDataFrame from Python rows would be an RDD-backed plan that
    # costs a Python-worker spin-up.
    bands = spark.range(1).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.to_timestamp(F.lit(s)).alias("b_start"),
                        F.to_timestamp(F.lit(e)).alias("b_end"),
                    )
                    for b, s, e in _RJ1_BANDS
                ]
            )
        )
    )
    joined = joins.range_join(ev, bands, "ts", "b_start", "b_end")
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# SN1 — batch gap-based sessionization (windows.sessionize): per-user sessions
# close after a 30-minute silence; output is the session-size distribution.
# Scale: ONE shuffle on user_id; the lag and the running sum share a window
# spec so Catalyst fuses them into a single Window operator over sorted runs
# (plan-tested). The oracle re-derives the identical lag+cumsum construction
# in DuckDB SQL.
# ---------------------------------------------------------------------------
_SN1_GAP_S = 1800


@query(
    "sn1_sessionize_events",
    oracle=f"""
    WITH t AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev
      FROM events
    ), s AS (
      SELECT user_id, us,
             sum(CASE WHEN prev IS NULL OR us - prev > {_SN1_GAP_S * 1_000_000} THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
                     ROWS UNBOUNDED PRECEDING) AS session_id
      FROM t
    ), g AS (
      SELECT user_id, session_id, count(*) AS n_events, max(us) - min(us) AS dur_us
      FROM s GROUP BY 1, 2
    )
    SELECT CAST(n_events AS BIGINT)  AS n_events,
           CAST(count(*) AS BIGINT)  AS n_sessions,
           CAST(sum(dur_us) AS BIGINT) AS total_dur_us
    FROM g GROUP BY 1
    """,
)
def sn1_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    s = windows.sessionize(
        ev, ["user_id"], "ts", _SN1_GAP_S, tiebreak=["event_id"]
    )
    per_session = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dur_us"),
    )
    return per_session.groupBy("n_events").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("dur_us").cast("bigint").alias("total_dur_us"),
    )


# ---------------------------------------------------------------------------
# BK1 — bucketed co-located join (S2-scale variant): orders and customer are
# staged ONCE per source version as bucketed external tables hashed on their
# join keys; the join then reads bucket files as pre-shuffled partitions and
# runs with ZERO Exchange (plan-tested with broadcast disabled). The 100 TB
# pattern: pay the bucketing shuffle once at ingest, amortize it over every
# downstream join/agg on the key. Oracle: the plain equi-join on the original
# parquet — bucketing must be invisible to results.
# ---------------------------------------------------------------------------
_BK1_TABLES = (("orders", "o_custkey", "o_totalprice"),
               ("customer", "c_custkey", "c_mktsegment"))


def _bucketed_orders_customer(spark: SparkSession, sf_dir: str) -> list[str]:
    """Bucketed twins of orders/customer for ``sf_dir``, as catalog tables.

    The files stage through :func:`derived.staged`, so an in-place rewrite
    of either source rebuilds them. The table names are fixed per
    ``sf_dir``: a rebuild drops the old pair and writes the new one, and
    every call registers the pair with ``CREATE TABLE IF NOT EXISTS`` over
    the staged files (explicit columns, no job), so a session whose catalog
    lost the tables still reads them."""
    import hashlib
    import os

    from agent_data_wrangler_spark.sources.writers import write_bucketed

    tag = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    names = [f"adw_bk_{t}_{tag}" for t, _, _ in _BK1_TABLES]

    def build(base: str) -> list[str]:
        ddl = []
        for name, (t, key, val) in zip(names, _BK1_TABLES):
            df = read_table(spark, sf_dir, t).select(key, val)
            path = os.path.join(base, t)
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            write_bucketed(df, name, [key], num_buckets=8, sort_cols=[key],
                           path=path)
            ddl.append(
                f"CREATE TABLE IF NOT EXISTS {name} ({df.schema.toDDL()}) "
                f"USING parquet CLUSTERED BY ({key}) SORTED BY ({key}) "
                f"INTO 8 BUCKETS LOCATION '{path}'")
        return ddl

    for stmt in staged(sf_dir, ("orders", "customer"), ("bucketed",), build):
        spark.sql(stmt)
    return names


@query(
    "bk1_bucketed_join_revenue",
    oracle="""
    SELECT c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def bk1_bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o_t, c_t = _bucketed_orders_customer(spark, sf_dir)
    o = spark.table(o_t)
    c = spark.table(c_t)
    joined = o.join(c, o.o_custkey == c.c_custkey, "inner")
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# PP1 — partition-pruned scan: events staged ONCE per sf_dir as parquet
# partitioned by event_type; the filtered read must touch only the matching
# partition directories (PartitionFilters in the scan node, plan-tested) —
# the other partitions are never listed, read, or decoded. At 100 TB,
# partition-by-ingest-date/type is the first-line defense before any row
# filter runs. Oracle: the same filter on the unpartitioned original.
# ---------------------------------------------------------------------------
def _partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    import os

    def build(base: str) -> str:
        out = os.path.join(base, "events_by_type")
        read_table(spark, sf_dir, "events").write.partitionBy(
            "event_type").parquet(out)
        return out

    return staged(sf_dir, ("events",), ("part",), build)


@query(
    "pp1_partition_pruned_events",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(value), 2) AS sum_value
    FROM events WHERE event_type = 'purchase'
    """,
)
def pp1_partition_pruned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _partitioned_events(spark, sf_dir)
    ev = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    return ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# SJ1 — salted-join equivalence: the skew-mitigated physical path
# (joins.salted_join — left side salted by row hash, right side replicated
# salt×, join on (key, salt)) must produce byte-identical aggregates to the
# plain equi-join oracle. Salting is the manual fallback when AQE's skew
# split can't help (single ultra-hot key beyond its split factor); this query
# keeps that path continuously verified against the unsalted semantics.
# ---------------------------------------------------------------------------
@query(
    "sj1_salted_join_segments",
    oracle="""
    SELECT c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE year(o_orderdate) = 1997
    GROUP BY 1
    """,
)
def sj1_salted_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1997)
        .select("o_custkey", "o_totalprice")
    )
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = joins.salted_join(o, c, on="o_custkey", salt=8, how="inner")
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# JS1 — JSON-lines round-trip (the training-data interchange format next to
# parquet): export events through the versioned sink as JSONL, re-read with
# an EXPLICIT schema (the at-scale rule — no inference pre-pass), aggregate.
# The oracle reads the original parquet, so dropped rows, double-formatting
# loss, or null mangling in the JSON path breaks the hash.
# ---------------------------------------------------------------------------
@query(
    "js1_jsonl_roundtrip_events",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS sum_value, round(avg(value), 4) AS avg_value
    FROM events GROUP BY event_type
    """,
)
def js1_jsonl_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agent_data_wrangler_spark.sources.readers import read_jsonl

    ev_schema = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    ).schema
    out = _staged_export(spark, sf_dir, "json", "events.json")
    back = read_jsonl(spark, out, schema=ev_schema)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# SE1 — schema evolution: two parquet "ingest generations" of orders (1996
# rows without o_orderpriority, 1997 rows with it) merged by NAME via
# read_parquet_merged; the missing column surfaces as NULL and is bucketed
# as 'UNKNOWN'. Oracle: the same reconstruction from the original table.
# Staged once per sf_dir.
# ---------------------------------------------------------------------------
def _evolved_orders(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import os

    def build(base: str) -> tuple[str, str]:
        o = read_table(spark, sf_dir, "orders")
        v1 = os.path.join(base, "v1")
        v2 = os.path.join(base, "v2")
        o.filter(F.year("o_orderdate") == 1996).select(
            "o_orderkey", "o_totalprice"
        ).write.parquet(v1)
        o.filter(F.year("o_orderdate") == 1997).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ).write.parquet(v2)
        return v1, v2

    return staged(sf_dir, ("orders",), ("evolve",), build)


@query(
    "se1_schema_evolution_orders",
    oracle="""
    SELECT CASE WHEN year(o_orderdate) = 1997 THEN o_orderpriority
                ELSE 'UNKNOWN' END AS priority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders WHERE year(o_orderdate) IN (1996, 1997)
    GROUP BY 1
    """,
)
def se1_schema_evolution_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agent_data_wrangler_spark.sources.readers import read_parquet_merged

    v1, v2 = _evolved_orders(spark, sf_dir)
    merged = read_parquet_merged(spark, v1, v2)
    return merged.groupBy(
        F.coalesce(F.col("o_orderpriority"), F.lit("UNKNOWN")).alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# SK1 — key-skew profiler (profile.key_skew): the pre-flight check before
# any join/groupBy key choice at scale. Oracle re-derives the same four
# stats from a grouped count in SQL.
# ---------------------------------------------------------------------------
@query(
    "sk1_key_skew_orders",
    oracle="""
    WITH c AS (SELECT o_custkey, count(*) AS c FROM orders GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(max(c) AS BIGINT) AS max_key_rows,
           round(CAST(max(c) AS DOUBLE) /
                 (CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE)), 4)
             AS skew_factor
    FROM c
    """,
)
def sk1_key_skew_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return profile.key_skew(o, "o_custkey")


# ---------------------------------------------------------------------------
# MD1 — robust (median/MAD) outlier filter: the fit itself is outlier-
# resistant, unlike F2's mean±kσ whose fit a single corrupt row can drag.
# Bounds are computed as literals driver-side (two tiny percentile jobs) and
# applied as a codegen'd scan filter. The oracle mirrors the arithmetic
# term-for-term so the boundary doubles are bit-identical.
# ---------------------------------------------------------------------------
@query(
    "md1_mad_outliers_events",
    oracle="""
    WITH m AS (SELECT median(value) AS med FROM events),
         d AS (SELECT median(abs(value - med)) AS mad FROM events, m)
    SELECT CAST(count(*) FILTER (WHERE value IS NULL
                  OR (value >= med - 3 * 1.4826 * mad
                      AND value <= med + 3 * 1.4826 * mad)) AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (WHERE value IS NOT NULL
                  AND (value < med - 3 * 1.4826 * mad
                       OR value > med + 3 * 1.4826 * mad)) AS BIGINT) AS n_dropped,
           round(sum(value) FILTER (WHERE value IS NULL
                  OR (value >= med - 3 * 1.4826 * mad
                      AND value <= med + 3 * 1.4826 * mad)), 2) AS sum_kept
    FROM events, m, d
    """,
)
def md1_mad_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    total = ev.count()
    kept = filters.mad_outlier_filter(ev, "value", k=3.0)
    return kept.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        (F.lit(total) - F.count(F.lit(1))).cast("bigint").alias("n_dropped"),
        F.round(F.sum("value"), 2).alias("sum_kept"),
    )


# ---------------------------------------------------------------------------
# DQ1 — declarative data-quality rule suite (operators/validate.py): five
# expectations over the dirty events table compiled into ONE aggregate scan
# (each rule a map-side flag-sum; a per-rule-job expectations framework is
# the scale trap this design avoids). Oracle: the same counts as SQL
# aggregates, stacked with UNION ALL.
# ---------------------------------------------------------------------------
@query(
    "dq1_validation_rules_events",
    oracle="""
    SELECT 'value_not_null' AS rule,
           CAST(count(*) FILTER (WHERE value IS NULL) AS BIGINT) AS n_violations
    FROM events
    UNION ALL
    SELECT 'value_in_range_0_400',
           CAST(count(*) FILTER (WHERE value IS NOT NULL
                                 AND (value < 0 OR value > 400)) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'event_type_accepted',
           CAST(count(*) FILTER (WHERE event_type IS NOT NULL AND event_type
                 NOT IN ('click', 'view', 'purchase', 'signup')) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'props_is_json_object',
           CAST(count(*) FILTER (WHERE props IS NOT NULL
                 AND NOT regexp_matches(props, '^\\{.*\\}$')) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'event_id_unique',
           CAST(count(event_id) - count(DISTINCT event_id) AS BIGINT)
    FROM events
    """,
)
def dq1_validation_rules_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agent_data_wrangler_spark.operators import validate

    ev = read_table(spark, sf_dir, "events")
    rules = [
        ("value_not_null", validate.not_null("value")),
        ("value_in_range_0_400", validate.in_range("value", 0, 400)),
        (
            "event_type_accepted",
            validate.accepted_values(
                "event_type", ["click", "view", "purchase", "signup"]
            ),
        ),
        ("props_is_json_object", validate.matches("props", r"^\{.*\}$")),
        ("event_id_unique", validate.unique("event_id")),
    ]
    return validate.check_rules(ev, rules)


# ---------------------------------------------------------------------------
# NT1 — equal-frequency bucketing + percent_rank: quartiles of order value
# within each priority. The (o_totalprice, o_orderkey) order is TOTAL so
# ntile bucket boundaries are deterministic cross-engine. One shuffle on
# priority; both window functions share the spec (single Window operator).
# ---------------------------------------------------------------------------
@query(
    "nt1_quartiles_orders",
    oracle="""
    WITH w AS (
      SELECT o_orderpriority AS priority, o_totalprice,
             ntile(4) OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice ASC, o_orderkey ASC) AS quartile,
             percent_rank() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice ASC, o_orderkey ASC) AS pr
      FROM orders
    )
    SELECT priority, CAST(quartile AS INTEGER) AS quartile,
           CAST(count(*) AS BIGINT) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi,
           round(avg(pr), 4) AS avg_pr
    FROM w GROUP BY 1, 2
    """,
)
def nt1_quartiles_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    order = [F.asc("o_totalprice"), F.asc("o_orderkey")]
    tiled = windows.with_ntile(
        o, 4, ["o_orderpriority"], order, alias="quartile"
    )
    tiled = windows.ranked(
        tiled, ["o_orderpriority"], order, method="percent_rank", alias="pr"
    )
    return tiled.groupBy(
        F.col("o_orderpriority").alias("priority"), "quartile"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
        F.round(F.avg("pr"), 4).alias("avg_pr"),
    )


# ---------------------------------------------------------------------------
# FZ1 — fuzzy-match join (joins.fuzzy_join): dirty free-text names
# reconciled against the nation dimension by best Levenshtein match
# (broadcast dim → BroadcastNestedLoopJoin, zero shuffle; ties broken by
# ascending canonical name; no match within 3 edits → NULL). 'NATION_2X' is
# a deliberate tie (distance 1 to NATION_20..24 by substitution AND to
# NATION_2 by insertion) pinning the tie-break; 'ZZZZZZZZ' pins the
# unmatched path.
# ---------------------------------------------------------------------------
_FZ1_DIRTY = [
    "NATON_3", "NATIONN_12", "NATIO_7", "XATION_19", "NATION_2X",
    "nation_5", "NAT_21", "ZZZZZZZZ",
]
_FZ1_VALUES = ", ".join(f"('{v}')" for v in _FZ1_DIRTY)


@query(
    "fz1_fuzzy_match_nation",
    oracle=f"""
    WITH dirty(name) AS (VALUES {_FZ1_VALUES}),
    ranked AS (
      SELECT d.name, n.n_name AS matched,
             CAST(levenshtein(d.name, n.n_name) AS INTEGER) AS dist,
             row_number() OVER (PARTITION BY d.name
                                ORDER BY levenshtein(d.name, n.n_name) ASC,
                                         n.n_name ASC) AS rn
      FROM dirty d LEFT JOIN nation n ON levenshtein(d.name, n.n_name) <= 3
    )
    SELECT name, matched, dist FROM ranked WHERE rn = 1
    """,
)
def fz1_fuzzy_match_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JVM-local literal list (see rj1): no Python-worker cost for 8 rows.
    dirty = spark.range(1).select(
        F.explode(F.array(*[F.lit(v) for v in _FZ1_DIRTY])).alias("name")
    )
    nation = read_table(spark, sf_dir, "nation").select("n_name")
    matched = joins.fuzzy_join(dirty, nation, "name", "n_name", max_dist=3)
    return matched.select(
        "name",
        F.col("n_name").alias("matched"),
        F.col("__dist").cast("int").alias("dist"),
    )


# ---------------------------------------------------------------------------
# TS1 — time-series resample with gap filling: hourly event counts over a
# calendar spine built with sequence+explode from ONE 1-row min/max
# aggregate — the spine is never collected to the driver and never larger
# than the hour range. Empty hours surface as n=0 (the rows a naive groupBy
# silently omits — gap-filling is what makes downstream rate/trend math
# correct). Oracle: DuckDB generate_series spine, same left join.
# ---------------------------------------------------------------------------
@query(
    "ts1_resample_hourly_events",
    oracle="""
    WITH e AS (SELECT date_trunc('hour', ts) AS h, value FROM events),
    hourly AS (SELECT h, count(*) AS c, round(sum(value), 2) AS sv
               FROM e GROUP BY 1),
    bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
              FROM bounds)
    SELECT s.hour, CAST(coalesce(c, 0) AS BIGINT) AS n, sv AS sum_value
    FROM spine s LEFT JOIN hourly ON s.hour = hourly.h
    """,
)
def ts1_resample_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("h"), "value"
    )
    hourly = ev.groupBy("h").agg(
        F.count(F.lit(1)).alias("c"),
        F.round(F.sum("value"), 2).alias("sv"),
    )
    spine = (
        ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 hour"))
            ).alias("hour")
        )
    )
    return spine.join(hourly, spine.hour == hourly.h, "left").select(
        "hour",
        F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("n"),
        F.col("sv").alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# J8 — TPC-H Q3-shaped shipping-priority query: the 3-way
# customer⋈orders⋈lineitem star join with selective filters on every leg,
# aggregated and top-10'd. The plan the optimizer should produce: filters
# pushed into all three scans, customer broadcast into orders, the joint
# result joined to lineitem on the orderkey, TakeOrderedAndProject for the
# limit (never a global sort). The total (revenue DESC, orderkey ASC) order
# makes the top-10 deterministic cross-engine.
# ---------------------------------------------------------------------------
@query(
    "j8_shipping_priority",
    oracle="""
    SELECT o.o_orderkey, o.o_orderdate,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1996-07-01'
      AND l.l_shipdate  > DATE '1996-07-01'
    GROUP BY 1, 2
    ORDER BY revenue DESC, o.o_orderkey ASC LIMIT 10
    """,
)
def j8_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1996-07-01").cast("date"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("1996-07-01").cast("date"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    enriched = joins.equi_join(
        o, c.select(F.col("c_custkey").alias("o_custkey")),
        on="o_custkey", how="inner", broadcast_right="auto",
    )
    full = li.join(
        enriched.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
        "inner",
    )
    agg = full.groupBy("o_orderkey", "o_orderdate").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )
    return windows.top_k(agg, [F.desc("revenue"), F.asc("o_orderkey")], 10)


# ---------------------------------------------------------------------------
# TP1 — two-phase (salted) aggregation equivalence: joins.two_phase_agg
# splits each hot key across 16 salted reducers and merges partials, so a
# single flooded reducer can't OOM the final merge. Like sj1, the physical
# path must be byte-identical to the plain groupBy oracle. count/sum/max on
# integer cents — re-aggregatable partials, exact in any engine.
# ---------------------------------------------------------------------------
@query(
    "tp1_two_phase_agg_orders",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents
    FROM orders GROUP BY 1
    """,
)
def tp1_two_phase_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    out = joins.two_phase_agg(
        o,
        "priority",
        {
            "n": (F.count, F.sum, F.lit(1)),
            "total_cents": (F.sum, F.sum, F.col("cents")),
            "max_cents": (F.max, F.max, F.col("cents")),
        },
        salt=16,
    )
    return out.select(
        "priority",
        F.col("n").cast("bigint").alias("n"),
        F.col("total_cents").cast("bigint").alias("total_cents"),
        F.col("max_cents").cast("bigint").alias("max_cents"),
    )


# ---------------------------------------------------------------------------
# CD1 — CDC MERGE (net-effect upsert): apply a keyed changeset (two updates
# per key where the later seq must win, deletes, inserts) to the orders
# snapshot. The changeset is DERIVED deterministically from orders itself so
# both engines build bit-identical inputs: keys %10==1 get a stale seq-1
# update (+1.0, '9-STALE') that must LOSE to the seq-2 update (*1.1,
# '0-UPDATED'); keys %10==2 are deleted; keys %10==3 spawn inserts at
# key+20_000_000. Per-row double arithmetic (x+1.0, x*1.1) is IEEE-754
# deterministic — no sums, so no rounding needed.
# Scale: window over the CHANGESET only (row_number per key), then one hash
# anti-join + union against the base — the copy-on-write MERGE plan; the
# snapshot is never windowed.
# ---------------------------------------------------------------------------
def _orders_changeset(o: DataFrame) -> DataFrame:
    key = F.col("o_orderkey")
    upd1 = o.filter(key % 10 == 1).select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        "o_orderdate", F.lit("9-STALE").alias("o_orderpriority"),
        F.lit("U").alias("op"), F.lit(1).alias("seq"),
    )
    upd2 = o.filter(key % 10 == 1).select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
        "o_orderdate", F.lit("0-UPDATED").alias("o_orderpriority"),
        F.lit("U").alias("op"), F.lit(2).alias("seq"),
    )
    dels = o.filter(key % 10 == 2).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
        F.lit("D").alias("op"), F.lit(1).alias("seq"),
    )
    ins = o.filter(key % 10 == 3).select(
        (key + F.lit(20000000)).alias("o_orderkey"), "o_custkey",
        F.lit("N").alias("o_orderstatus"), "o_totalprice",
        "o_orderdate", "o_orderpriority",
        F.lit("I").alias("op"), F.lit(1).alias("seq"),
    )
    return upd1.unionByName(upd2).unionByName(dels).unionByName(ins)


_CD1_CHANGES_SQL = """
      SELECT o_orderkey, o_custkey, o_orderstatus,
             o_totalprice + 1.0 AS o_totalprice, o_orderdate,
             '9-STALE' AS o_orderpriority, 'U' AS op, 1 AS seq
      FROM orders WHERE o_orderkey % 10 = 1
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus,
             o_totalprice * 1.1, o_orderdate, '0-UPDATED', 'U', 2
      FROM orders WHERE o_orderkey % 10 = 1
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority, 'D', 1
      FROM orders WHERE o_orderkey % 10 = 2
      UNION ALL
      SELECT o_orderkey + 20000000, o_custkey, 'N', o_totalprice,
             o_orderdate, o_orderpriority, 'I', 1
      FROM orders WHERE o_orderkey % 10 = 3
"""


@query(
    "cd1_apply_changes_orders",
    oracle=f"""
    WITH changes AS ({_CD1_CHANGES_SQL}
    ), latest AS (
      SELECT * FROM (
        SELECT c.*, row_number() OVER (PARTITION BY o_orderkey
                                       ORDER BY seq DESC) AS rn
        FROM changes c
      ) WHERE rn = 1
    )
    SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus, b.o_totalprice,
           b.o_orderdate, b.o_orderpriority
    FROM orders b LEFT JOIN latest l ON b.o_orderkey = l.o_orderkey
    WHERE l.o_orderkey IS NULL
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM latest WHERE op <> 'D'
    """,
)
def cd1_apply_changes_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return cdc.apply_changes(
        o, _orders_changeset(o), "o_orderkey", seq_col="seq", op_col="op"
    )


# ---------------------------------------------------------------------------
# CD2 — SCD Type-2 history: the updated keys' version chain (base row as
# seq 0, the two updates as seq 1/2) becomes validity intervals — each
# version carries the NEXT version's seq as effective_to (NULL = current).
# One lead() window pass shuffled on the key; O(history), never O(snapshot).
# ---------------------------------------------------------------------------
@query(
    "cd2_scd2_orders",
    oracle="""
    WITH hist AS (
      SELECT o_orderkey, 0 AS seq, o_totalprice AS price
      FROM orders WHERE o_orderkey % 10 = 1
      UNION ALL
      SELECT o_orderkey, 1, o_totalprice + 1.0
      FROM orders WHERE o_orderkey % 10 = 1
      UNION ALL
      SELECT o_orderkey, 2, o_totalprice * 1.1
      FROM orders WHERE o_orderkey % 10 = 1
    )
    SELECT o_orderkey, seq, price,
           lead(seq) OVER (PARTITION BY o_orderkey ORDER BY seq) AS effective_to,
           lead(seq) OVER (PARTITION BY o_orderkey ORDER BY seq) IS NULL AS is_current
    FROM hist
    """,
)
def cd2_scd2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 1)
    price = F.col("o_totalprice")
    hist = (
        o.select("o_orderkey", F.lit(0).alias("seq"), price.alias("price"))
        .unionByName(o.select("o_orderkey", F.lit(1).alias("seq"),
                              (price + F.lit(1.0)).alias("price")))
        .unionByName(o.select("o_orderkey", F.lit(2).alias("seq"),
                              (price * F.lit(1.1)).alias("price")))
    )
    return cdc.scd2_history(hist, "o_orderkey", "seq")


# ---------------------------------------------------------------------------
# TS2 — time-series gap fill (pandas ffill at scale): NULL gaps are planted
# deterministically (event_id % 7 == 3), then forward-filled with the most
# recent non-NULL value per user ordered by (ts, event_id). Leading NULLs
# (gap before a user's first real value) stay NULL — same on both engines.
# Scale: ONE shuffle on user_id; last(ignorenulls) over unbounded-preceding
# is a streaming frame (constant state per partition).
# ---------------------------------------------------------------------------
@query(
    "ts2_gap_fill_events",
    oracle="""
    SELECT event_id, user_id,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
    FROM (SELECT event_id, user_id, ts,
                 CASE WHEN event_id % 7 = 3 THEN NULL ELSE value END AS v
          FROM events)
    """,
)
def ts2_gap_fill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events").withColumn(
        "value",
        F.when(F.col("event_id") % 7 == 3, F.lit(None)).otherwise(F.col("value")),
    )
    filled = impute.forward_fill(
        e, ["value"], partition_by=["user_id"], order_by=["ts", "event_id"]
    )
    return filled.select("event_id", "user_id", "value")


# ---------------------------------------------------------------------------
# SUB1 — correlated scalar subquery (TPC-H Q17 shape): revenue lost to
# small-quantity orders — lineitems of one brand whose quantity is below
# 20% of that part's average quantity. The Spark side is the DECORRELATED
# plan written out (per-part aggregate + joins) — exactly what Catalyst's
# subquery decorrelation produces — while the oracle keeps the textbook
# correlated form; matching results pin the rewrite's semantics.
# Sum runs on integer cents (order-independent), /100/7 at the end.
# Scale: the per-part avg is a partial+final agg on l_partkey; both joins
# hash on the part key; the brand dim side is broadcastable.
# ---------------------------------------------------------------------------
@query(
    "sub1_small_quantity_revenue",
    oracle="""
    SELECT round(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                 / 100.0 / 7.0, 2) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#19'
      AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)
def sub1_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    parts = read_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#19"
    ).select("p_partkey")
    # Decorrelated: per-part quantity limit, computed only for the brand's
    # parts (semi-join reduction), then joined back.
    limits = (
        li.join(parts, li["l_partkey"] == parts["p_partkey"], "left_semi")
        .groupBy("l_partkey")
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("__limit"))
    )
    return (
        li.join(parts, li["l_partkey"] == parts["p_partkey"])
        .join(limits, "l_partkey")
        .filter(F.col("l_quantity") < F.col("__limit"))
        .agg(
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
                / F.lit(100.0) / F.lit(7.0),
                2,
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# SUB2 — IN-subquery with HAVING (TPC-H Q18 shape): customers holding
# large-volume orders (total quantity > 200). The oracle keeps the IN +
# GROUP BY/HAVING form; the Spark side is the semi-join rewrite Catalyst
# would emit. Quantities are integer-valued doubles, so the HAVING sum is
# exact in any summation order.
# Scale: the HAVING aggregate shuffles on l_orderkey (partial agg shrinks
# it first); the filtered key set is small → broadcast semi join into
# orders; customer join hashes on custkey.
# ---------------------------------------------------------------------------
@query(
    "sub2_large_volume_customers",
    oracle="""
    SELECT c_custkey, o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
    FROM customer JOIN orders ON c_custkey = o_custkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
    """,
)
def sub2_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 200)
        .select("l_orderkey")
    )
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"], "left_semi")
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey",
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("total_cents"),
        )
    )


# ---------------------------------------------------------------------------
# AN1 — rolling z-score anomaly flags: each event vs the mean/stddev of its
# user's previous 10 values (self excluded; <5 history never flags). All
# rolling statistics derive from integer-cents sum and sum-of-squares —
# rolling aggregates over raw doubles are NOT cross-engine stable (DuckDB's
# segment-tree windows sum in a different order than Spark's frames), but
# integer sums are exact in any order, and every downstream double op
# (mean, variance, sqrt, compare) is then IEEE-deterministic.
# Scale: one shuffle on user_id; bounded frames are O(lookback) per row.
# ---------------------------------------------------------------------------
@query(
    "an1_rolling_anomaly_events",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, ts, CAST(round(value * 100) AS BIGINT) AS v
      FROM events
    ), r AS (
      SELECT event_id, user_id, v,
             count(v) OVER w AS n, sum(v) OVER w AS s, sum(v * v) OVER w AS s2
      FROM c
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, CAST(n AS BIGINT) AS roll_n,
           round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 4) AS roll_mean
    FROM r
    WHERE n >= 5
      AND abs(CAST(v AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
          > 3.0 * sqrt(greatest(
              (CAST(s2 AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              / (CAST(n AS DOUBLE) - 1.0), 0.0))
    """,
)
def an1_rolling_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events").withColumn(
        "v", F.round(F.col("value") * 100).cast("bigint")
    )
    out = windows.rolling_anomaly(
        e, "v",
        partition_by=["user_id"],
        order_by=[F.col("ts").asc(), F.col("event_id").asc()],
        lookback=10, min_history=5, k=3.0,
    )
    return out.filter(F.col("is_anomaly")).select(
        "event_id", "user_id", "roll_n", "roll_mean"
    )


# ---------------------------------------------------------------------------
# HG1 — fixed-width histogram of order totals: the profiling step after
# describe() (shape, not just moments). Bucket assignment is scan-stage;
# the shuffle carries |buckets| partial counts.
# ---------------------------------------------------------------------------
@query(
    "hg1_histogram_totalprice",
    oracle="""
    SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
           CAST(floor(o_totalprice / 25000.0) AS BIGINT) * 25000.0 AS lo,
           (CAST(floor(o_totalprice / 25000.0) AS BIGINT) + 1) * 25000.0 AS hi,
           CAST(count(*) AS BIGINT) AS n
    FROM orders WHERE o_totalprice IS NOT NULL
    GROUP BY 1
    """,
)
def hg1_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile.histogram(
        read_table(spark, sf_dir, "orders"), "o_totalprice", bucket_width=25000.0
    )


# ---------------------------------------------------------------------------
# OR1 — ORC source/sink roundtrip (the Hive-lake columnar interchange
# format next to parquet): project events, write a versioned ORC copy, read
# it back with the native vectorized ORC reader, aggregate. The oracle reads
# the ORIGINAL parquet, so any row loss, type drift, or value mangling in
# the ORC path breaks the hash.
# ---------------------------------------------------------------------------
@query(
    "or1_orc_roundtrip_events",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           round(min(value), 4) AS min_value, round(max(value), 4) AS max_value
    FROM events GROUP BY event_type
    """,
)
def or1_orc_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agent_data_wrangler_spark.sources.readers import read_orc

    out = _staged_export(spark, sf_dir, "orc", "events.orc")
    back = read_orc(spark, out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("sum_cents"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


# ---------------------------------------------------------------------------
# IM1 — incremental aggregate maintenance, batch form (the batch twin of the
# st5 streaming rollup): a monthly rollup maintained as OLD-epoch rollup +
# NEW-epoch delta merged through the mergeable-aggregate algebra
# (counts/sums re-summed per key) — must equal the from-scratch rollup the
# oracle computes. At 100 TB this replaces recomputing history every day:
# the merge shuffles |groups| rollup rows, never raw history.
# ---------------------------------------------------------------------------
@query(
    "im1_incremental_rollup_orders",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders GROUP BY 1, 2
    """,
)
def im1_incremental_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("__d"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("__cents"),
    )
    cutoff = F.lit("1996-01-01 00:00:00").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("month", "priority").agg(
            F.count(F.lit(1)).alias("n"), F.sum("__cents").alias("total_cents")
        )

    old_rollup = partial(o.filter(F.col("__d") < cutoff))
    delta = partial(o.filter(F.col("__d") >= cutoff))
    merged = aggregates.merge_partial_aggregates(
        [old_rollup, delta], ["month", "priority"], ["n", "total_cents"]
    )
    return merged.select(
        "month", "priority",
        F.col("n").cast("bigint").alias("n"),
        F.col("total_cents").cast("bigint").alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# RI1 — referential integrity across the star schema: orphan counts for the
# four FK edges (lineitem→orders/part/supplier, orders→customer). Cross-
# table data-quality rules complementing the single-scan suite (dq1). Each
# check is a LEFT ANTI join against the parent's distinct keys (broadcast
# for dim-sized parents); testdata is clean, so the oracle hash pins zeros —
# the planted-orphan path is unit-tested.
# ---------------------------------------------------------------------------
@query(
    "ri1_referential_integrity",
    oracle="""
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
          ON l.l_orderkey = o.o_orderkey
       WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL) AS orphans_l_orderkey,
      (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
          ON l.l_partkey = p.p_partkey
       WHERE l.l_partkey IS NOT NULL AND p.p_partkey IS NULL) AS orphans_l_partkey,
      (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
          ON l.l_suppkey = s.s_suppkey
       WHERE l.l_suppkey IS NOT NULL AND s.s_suppkey IS NULL) AS orphans_l_suppkey,
      (SELECT CAST(count(*) AS BIGINT) FROM orders o
        LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
          ON o.o_custkey = c.c_custkey
       WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL) AS orphans_o_custkey
    """,
)
def ri1_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agent_data_wrangler_spark.operators.validate import fk_orphan_counts

    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    child_checks = fk_orphan_counts(li, [
        ("l_orderkey", o, "o_orderkey"),
        ("l_partkey", read_table(spark, sf_dir, "part"), "p_partkey"),
        ("l_suppkey", read_table(spark, sf_dir, "supplier"), "s_suppkey"),
    ])
    order_checks = fk_orphan_counts(o, [
        ("o_custkey", read_table(spark, sf_dir, "customer"), "c_custkey"),
    ])
    return child_checks.crossJoin(order_checks)


# ---------------------------------------------------------------------------
# CT1 — chi-square contingency diagnostics between event_type and a derived
# user cohort: per observed cell, count, independence-expected count, and
# chi-square contribution. Totals are integer sums (exact in any order), so
# the derived doubles are IEEE-deterministic cross-engine. Zero cells are
# absent on both engines (same groupBy).
# ---------------------------------------------------------------------------
@query(
    "ct1_chi2_events",
    oracle="""
    WITH obs AS (
      SELECT event_type, CAST(user_id % 5 AS BIGINT) AS cohort,
             CAST(count(*) AS BIGINT) AS observed
      FROM events GROUP BY 1, 2
    ), t AS (
      SELECT event_type, cohort, observed,
             sum(observed) OVER (PARTITION BY event_type) AS rt,
             sum(observed) OVER (PARTITION BY cohort) AS ct,
             sum(observed) OVER () AS n
      FROM obs
    )
    SELECT event_type, cohort, observed,
           round(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE), 6) AS expected,
           round((CAST(observed AS DOUBLE)
                  - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(observed AS DOUBLE)
                    - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)), 6)
             AS contribution
    FROM t
    """,
)
def ct1_chi2_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events").withColumn(
        "cohort", (F.col("user_id") % 5).cast("bigint")
    )
    return pivot.chi2_contingency(e, "event_type", "cohort")


# ---------------------------------------------------------------------------
# VR1 — Spark 4 VARIANT path for semi-structured data: props parsed ONCE
# into the binary variant encoding, fields extracted by binary traversal
# (vs jn1's string-path get_json_object), plus schema_of_variant as the
# shape-drift detector — grouping by the per-row inferred schema surfaces
# every JSON shape in the column. Oracle: DuckDB json_extract twins the
# values; the shape check is a drift-robust boolean (variant ran, shapes
# are OBJECTs), not a corpus-exact literal.
# ---------------------------------------------------------------------------
@query(
    "vr1_variant_events",
    oracle="""
    SELECT event_type,
           CAST(count(k) AS BIGINT) AS n_with_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           true AS shapes_are_objects
    FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events)
    GROUP BY event_type
    """,
)
def vr1_variant_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agent_data_wrangler_spark.functions.collections import (
        variant_get_typed,
        variant_schema,
    )

    e = read_table(spark, sf_dir, "events").select(
        "event_type",
        variant_get_typed("props", "$.k", "bigint").alias("k"),
        variant_schema("props").alias("shape"),
    )
    # Shape drift-detector column kept robust to testdata drift: assert the
    # variant machinery ran and every shape is an OBJECT, not the corpus's
    # exact key set (a literal would latently break when props gains keys).
    return e.groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.min(F.col("shape").startswith("OBJECT<")).alias("shapes_are_objects"),
    )


# ---------------------------------------------------------------------------
# FN1 — event funnel (view → click → purchase within 2 h of the first
# view), the product-analytics staple. Formulated as SEQUENTIAL MINS — per
# user: t1 = first view; t2 = first click at/after t1; t3 = first purchase
# at/after t2 — three tiny per-user aggregates chained by key joins, NOT an
# n-way event self-join (which is quadratic in events-per-user at scale).
# "From the first view" makes the funnel deterministic and oracle-mirrorable.
# Timestamps compare exactly; no float math anywhere.
# ---------------------------------------------------------------------------
@query(
    "fn1_funnel_events",
    oracle="""
    WITH t1 AS (
      SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view'
      GROUP BY user_id
    ), t2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.ts >= t1.t1
      GROUP BY e.user_id
    ), t3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= t2.t2
      GROUP BY e.user_id
    )
    SELECT t1.user_id, t1.t1, t2.t2, t3.t3,
           coalesce(t3.t3 <= t1.t1 + INTERVAL 2 HOUR, false) AS completed
    FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
            LEFT JOIN t3 ON t2.user_id = t3.user_id
    """,
)
def fn1_funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")

    def first_at_or_after(etype: str, prev: DataFrame, prev_col: str, out: str) -> DataFrame:
        step = e.filter(F.col("event_type") == etype).join(prev, "user_id")
        return (
            step.filter(F.col("ts") >= F.col(prev_col))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    t1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    )
    t2 = first_at_or_after("click", t1, "t1", "t2")
    t3 = first_at_or_after("purchase", t2, "t2", "t3")
    return (
        t1.join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .select(
            "user_id", "t1", "t2", "t3",
            F.coalesce(
                F.col("t3") <= F.col("t1") + F.expr("INTERVAL 2 HOUR"),
                F.lit(False),
            ).alias("completed"),
        )
    )


# ---------------------------------------------------------------------------
# RC1 — cohort retention matrix: users grouped by first-seen week (cohort),
# counted as retained in each later week they reappear. Pure integer
# distinct-counts over derived week numbers — the other product-analytics
# staple next to fn1. Week number = days since 2024-01-01 // 7 (integer
# arithmetic on date_diff, identical both engines).
# Scale: two aggregates shuffled on user_id / (cohort, offset); distinct
# users per cell is the only wide state and is bounded by |users|.
# ---------------------------------------------------------------------------
@query(
    "rc1_retention_events",
    oracle="""
    WITH w AS (
      SELECT user_id,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
                  AS BIGINT) AS week
      FROM events
    ), cohort AS (
      SELECT user_id, min(week) AS cohort_week FROM w GROUP BY user_id
    )
    SELECT c.cohort_week,
           CAST(w.week - c.cohort_week AS BIGINT) AS week_offset,
           CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_users
    FROM w JOIN cohort c ON w.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def rc1_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    w = e.select(
        "user_id",
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            / 7
        ).cast("bigint").alias("week"),
    )
    cohort = w.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        w.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).cast("bigint").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# QT1 — per-group exact quantiles (the p50/p95/p99 observability rollup):
# value quantiles per event_type via Spark's interpolating `percentile`,
# mirrored by DuckDB quantile_cont (both linear interpolation on sorted
# order statistics — the same estimator p5/describe already hash-matches
# globally). Scale: one partial+final aggregate per group; above memory
# budgets the same call sites switch to percentile_approx exactly as
# describe_auto does (da1 pins that switch).
# ---------------------------------------------------------------------------
@query(
    "qt1_quantiles_by_type_events",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(value, 0.5), 4)  AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY event_type
    """,
)
def qt1_quantiles_by_type_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    v = F.col("value").cast("double")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.percentile(v, 0.5), 4).alias("p50"),
        F.round(F.percentile(v, 0.95), 4).alias("p95"),
        F.round(F.percentile(v, 0.99), 4).alias("p99"),
    )


# ---------------------------------------------------------------------------
# TK1 — top-N per group (3 biggest orders per priority): the grouped-top-k
# staple, written as row_number over (priority, totalprice desc, key) and
# filtered — Spark 4 rewrites the filter into WindowGroupLimit, computing
# the per-key top-3 BEFORE the exchange (each map task forwards at most 3
# rows per group), so the shuffle carries |groups|·k rows, not the table.
# The key column breaks price ties deterministically on both engines.
# ---------------------------------------------------------------------------
@query(
    "tk1_top3_orders_per_priority",
    oracle="""
    SELECT o_orderpriority AS priority, rk, o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
)
def tk1_top3_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    ranked = windows.ranked(
        o, ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        alias="rk",
    )
    return ranked.filter(F.col("rk") <= 3).select(
        F.col("o_orderpriority").alias("priority"),
        F.col("rk"),
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# SUB3 — correlated MIN subquery over a second aggregate (TPC-H Q2 shape,
# adapted to this schema: lineitem plays partsupp, unit cost =
# l_extendedprice / l_quantity). For every size-25 part, the supplier(s)
# achieving the part's minimum unit cost, with their nation. The oracle
# keeps the textbook correlated form (cost = (SELECT min(...) WHERE
# l2.l_partkey = p_partkey)); the Spark side is the decorrelated plan
# Catalyst's RewriteCorrelatedScalarSubquery would produce: one per-
# (part, supplier) partial+final agg, then a window MIN over the part key
# — the second shuffle reuses the first's partitioning prefix. Double
# equality against the window min is safe: both sides of the comparison
# are mins over the SAME row set inside ONE engine; the cross-engine hash
# only sees the rounded output.
# Scale: lineitem is semi-join-reduced by the selective part filter before
# any aggregation; supplier and nation are broadcast dims; ties (multiple
# suppliers at the exact min) are emitted on both engines, so no
# tie-break is needed.
# ---------------------------------------------------------------------------
@query(
    "sub3_min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT p_partkey, s_suppkey, s_name, n_name,
           round(ps.cost, 4) AS unit_cost
    FROM part, supplier, nation, ps
    WHERE p_partkey = ps.l_partkey AND s_suppkey = ps.l_suppkey
      AND s_nationkey = n_nationkey
      AND p_size = 25
      AND ps.cost = (SELECT min(l2.l_extendedprice / l2.l_quantity)
                     FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)
def sub3_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")
    p = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_size") == 25)
        .select("p_partkey")
    )
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    ps = (
        li.join(p, li["l_partkey"] == p["p_partkey"], "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost"))
    )
    best = ps.withColumn(
        "__m", F.min("cost").over(Window.partitionBy("l_partkey"))
    ).filter(F.col("cost") == F.col("__m"))
    return (
        best.join(F.broadcast(s), best["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_suppkey",
            "s_name",
            "n_name",
            F.round(F.col("cost"), 4).alias("unit_cost"),
        )
    )


# ---------------------------------------------------------------------------
# SUB4 — EXISTS + NOT EXISTS over the same table (TPC-H Q21 shape): for
# finalized orders, count per supplier the lineitems that are the LAST
# shipment of a multi-supplier order (another supplier exists in the order;
# no other supplier shipped later). The oracle keeps the textbook
# correlated EXISTS / NOT EXISTS pair; the Spark side registers the
# semi-join + anti-join rewrite: both are EQUI joins on l_orderkey with the
# supplier-inequality (and shipdate) predicates as residual conditions —
# never a nested-loop join (plan-pinned in tests/test_plan_shapes.py).
# Scale: all three lineitem legs hash-partition on l_orderkey, so the
# semi and anti joins co-locate with zero extra shuffles after the first;
# the orders status filter pushes to the parquet scan; supplier is a
# broadcast dim. Ties (two suppliers sharing the max shipdate) are
# excluded by BOTH engines via the strict '>' on the anti side.
# ---------------------------------------------------------------------------
@query(
    "sub4_last_shipper_multi_supplier",
    oracle="""
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    """,
)
def sub4_last_shipper_multi_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    s = read_table(spark, sf_dir, "supplier")
    l1 = li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_semi")
    l2 = li.select(
        F.col("l_orderkey").alias("__ok2"), F.col("l_suppkey").alias("__sk2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("__ok3"),
        F.col("l_suppkey").alias("__sk3"),
        F.col("l_shipdate").alias("__sd3"),
    )
    waiting = (
        l1.join(
            l2,
            (l1["l_orderkey"] == l2["__ok2"]) & (l1["l_suppkey"] != l2["__sk2"]),
            "left_semi",
        ).join(
            l3,
            (l1["l_orderkey"] == l3["__ok3"])
            & (l1["l_suppkey"] != l3["__sk3"])
            & (l3["__sd3"] > l1["l_shipdate"]),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(s), waiting["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# J9 — customer order-count distribution (TPC-H Q13 shape): LEFT OUTER join
# with a non-key residual predicate (the filter must ride the JOIN, not the
# WHERE — customers whose only orders are urgent still count as zero), then
# a two-level aggregate: per-customer count of matched orders (count(col)
# skips the nulls the outer join manufactures), then the histogram.
# Scale: one shuffle on custkey for the join+first agg; the histogram input
# is |customers| rows and the final agg |distinct counts|. No broadcast —
# both sides are fact-sized at warehouse scale, so the SMJ shape IS the
# plan we want.
# ---------------------------------------------------------------------------
@query(
    "j9_customer_order_distribution",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) GROUP BY c_count
    """,
)
def j9_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer").select("c_custkey")
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"])
            & (o["o_orderpriority"] != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


# ---------------------------------------------------------------------------
# SUB5 — scalar AVG subquery + NOT EXISTS (TPC-H Q22 shape): wealthy
# inactive customers per nation — balance above the global positive-balance
# average AND no orders at all. The oracle keeps the textbook form; the
# Spark side broadcasts the 1-row average (the fit-then-transform rule) and
# rewrites NOT EXISTS as a left anti join on custkey.
# Scale: the avg is one partial+final agg; the anti join shuffles on
# custkey with the orders side pre-projected to the key column only; the
# final per-nation agg is |nations| rows. sum() of doubles is rounded to 2
# (cross-engine noise ~1e-10 at this magnitude).
# ---------------------------------------------------------------------------
@query(
    "sub5_untapped_customers",
    oracle="""
    SELECT c_nationkey AS cntrycode,
           CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                       WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    """,
)
def sub5_untapped_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("__avg")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# RG1 — grouped least-squares trend (closed-form OLS slope/intercept of
# value-vs-time per event type): the "is this metric drifting" analytics
# staple. The five sufficient statistics (n, Σx, Σy, Σxy, Σx²) are EXACT
# integer sums — x = MINUTES since the group's min ts (floored), y =
# integer cents — then every closed-form product is computed in double
# FROM those exact integers (identical inputs → IEEE-identical results).
# Granularity and width are chosen by overflow arithmetic, not taste:
# seconds-granularity Σx² overflows int64 at ~200k rows/group over a
# 90-day span (hit at the sf1 probe), and the closed-form cross products
# n·Σxy / Σx·Σy overflow int64 even when the statistics fit — hence
# minute-granularity x (Σx² fits through ~sf100) and double cross
# products. Bridge note: Spark unix_timestamp FLOORS sub-second
# timestamps while DuckDB CAST(epoch(ts) AS BIGINT) rounds-to-nearest —
# the oracle must floor(epoch(ts)) or half the x values shift by one
# second and every statistic drifts (caught by the parity gate at 1e-5).
# Scale: one partial+final hash agg per group for the min-ts fit, one for
# the sufficient statistics — the fit-then-transform rule, never a window.
# ---------------------------------------------------------------------------
@query(
    "rg1_value_trend_by_type",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS xs,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL
    ), rebased AS (
      SELECT event_type,
             (xs - min(xs) OVER (PARTITION BY event_type)) // 60 AS x, y
      FROM base
    ), stats AS (
      SELECT event_type,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx
      FROM rebased GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1440.0, 6)
             AS slope_cents_per_day,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                 / n / 100.0, 4) AS intercept_dollars
    FROM stats
    """,
)
def rg1_value_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = e.select(
        "event_type",
        F.unix_timestamp("ts").alias("xs"),
        F.round(F.col("value") * 100).cast("bigint").alias("y"),
    )
    mins = base.groupBy("event_type").agg(F.min("xs").alias("__x0"))
    rebased = base.join(F.broadcast(mins), "event_type").select(
        "event_type",
        F.floor((F.col("xs") - F.col("__x0")) / F.lit(60)).alias("x"),
        "y",
    )
    stats = rebased.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum("x").alias("sx0"),
        F.sum("y").alias("sy0"),
        F.sum(F.col("x") * F.col("y")).alias("sxy0"),
        F.sum(F.col("x") * F.col("x")).alias("sxx0"),
    ).select(
        "event_type",
        F.col("n0").cast("double").alias("n"),
        F.col("sx0").cast("double").alias("sx"),
        F.col("sy0").cast("double").alias("sy"),
        F.col("sxy0").cast("double").alias("sxy"),
        F.col("sxx0").cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return stats.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(slope * F.lit(1440.0), 6).alias("slope_cents_per_day"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n") / F.lit(100.0),
            4,
        ).alias("intercept_dollars"),
    )


# ---------------------------------------------------------------------------
# DF1 — snapshot diff (reverse CDC): given two table versions, derive the
# changelog — the reconciliation op that verifies a replication/backfill
# landed. Snapshot B is a deterministic mutation of orders (drop keys
# %97==0, reprice keys %101==0), so both engines build identical inputs
# with no staged files. The diff classifies per key via a full outer join:
# removed (A only), added (B only), changed (both, row fingerprint
# differs), unchanged. Fingerprints are md5 over a canonical
# pipe-delimited rendering with integer cents (no float formatting
# drift); counts are exact integers.
# Scale: ONE full outer sort-merge join on the key — both sides shuffle
# once; the fingerprint is a scan-stage expression, so the exchange
# carries (key, 32-byte md5), never whole rows; the classification
# aggregate is partial+final to 4 rows.
# ---------------------------------------------------------------------------
@query(
    "df1_snapshot_diff_orders",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS k,
             md5(CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|'
                 || CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
                 || '|' || o_orderpriority) AS fp
      FROM orders
    ), b AS (
      SELECT o_orderkey AS k,
             md5(CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|'
                 || CAST(CAST(round(
                      CASE WHEN o_orderkey % 101 = 0
                           THEN o_totalprice * 1.1 ELSE o_totalprice END
                      * 100) AS BIGINT) AS VARCHAR)
                 || '|' || o_orderpriority) AS fp
      FROM orders WHERE o_orderkey % 97 <> 0
    )
    SELECT
      CAST(count(*) FILTER (WHERE b.k IS NULL) AS BIGINT) AS n_removed,
      CAST(count(*) FILTER (WHERE a.k IS NULL) AS BIGINT) AS n_added,
      CAST(count(*) FILTER (WHERE a.k IS NOT NULL AND b.k IS NOT NULL
                              AND a.fp <> b.fp) AS BIGINT) AS n_changed,
      CAST(count(*) FILTER (WHERE a.fp = b.fp) AS BIGINT) AS n_unchanged
    FROM a FULL OUTER JOIN b ON a.k = b.k
    """,
)
def df1_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")

    def fingerprint(price: F.Column) -> F.Column:
        return F.md5(
            F.concat_ws(
                "|",
                F.col("o_custkey").cast("string"),
                F.col("o_orderstatus"),
                F.round(price * 100).cast("bigint").cast("string"),
                F.col("o_orderpriority"),
            )
        )

    a = o.select(
        F.col("o_orderkey").alias("k"),
        fingerprint(F.col("o_totalprice")).alias("fp"),
    )
    b = o.filter(F.col("o_orderkey") % 97 != 0).select(
        F.col("o_orderkey").alias("k"),
        fingerprint(
            F.when(
                F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") * 1.1
            ).otherwise(F.col("o_totalprice"))
        ).alias("fp"),
    )
    j = a.alias("a").join(b.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer")
    return j.agg(
        F.count(F.when(F.col("b.k").isNull(), 1)).alias("n_removed"),
        F.count(F.when(F.col("a.k").isNull(), 1)).alias("n_added"),
        F.count(
            F.when(
                F.col("a.k").isNotNull()
                & F.col("b.k").isNotNull()
                & (F.col("a.fp") != F.col("b.fp")),
                1,
            )
        ).alias("n_changed"),
        F.count(F.when(F.col("a.fp") == F.col("b.fp"), 1)).alias("n_unchanged"),
    )


# ---------------------------------------------------------------------------
# J10 — local supplier revenue (TPC-H Q5 shape): revenue per nation from
# 1996 orders where the customer and the line's supplier sit in the SAME
# nation, restricted to one region. The classic 6-table star-with-a-twist:
# the c_nationkey = s_nationkey equality is a second join condition that
# arrives through two different dimension paths.
# Scale: lineitem⋈orders shuffles once on orderkey; orders⋈customer once
# on custkey; supplier, nation, and region are broadcast (supplier is
# ~1/10000th of lineitem at any TPC-H SF). The region filter prunes the
# nation broadcast BEFORE it fans out, so non-ASIA customers drop at the
# first join, shrinking everything downstream. Revenue is summed in exact
# integer cents×pct (price is exact cents, discount integer percent), so
# the hash never sees float accumulation order.
# ---------------------------------------------------------------------------
@query(
    "j10_local_supplier_revenue",
    oracle="""
    SELECT n_name,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * CAST(round((1 - l_discount) * 100) AS BIGINT))
                 / 10000.0, 2) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1997-01-01'
    GROUP BY n_name
    """,
)
def j10_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = read_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * F.round((1 - F.col("l_discount")) * 100).cast("bigint")
        ).alias("rev_i"),
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    # ASIA customers only (nation broadcast prunes early), then the two
    # fact shuffles, then broadcast supplier with the same-nation condition.
    co = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(o, c["c_custkey"] == o["o_custkey"])
        .select("o_orderkey", "c_nationkey", "n_name")
    )
    j = (
        li.join(co, li["l_orderkey"] == co["o_orderkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (F.col("c_nationkey") == s["s_nationkey"]),
        )
    )
    return j.groupBy("n_name").agg(
        F.round(F.sum("rev_i") / 10000.0, 2).alias("revenue")
    )


# ---------------------------------------------------------------------------
# J11 — disjunctive predicate join (TPC-H Q19 shape): revenue from three
# OR'd brand/size/quantity branches. The optimizer lesson Q19 teaches:
# the part-side disjuncts (brand, size) must be pushed below the join as
# the UNION of the branches — otherwise the join carries every part row
# for a filter that discards ~90% after the fact. Spark's
# CNF-conversion does not extract this automatically for the full
# cross-table predicate, so the query seeds the part scan with the
# OR-of-part-only-conjuncts itself and keeps the residual (the branch
# consistency with l_quantity) on the join.
# Scale: part (pre-filtered) broadcasts; lineitem never shuffles at all —
# broadcast-hash-join + partial agg to one row. Exact integer revenue as
# in j10.
# ---------------------------------------------------------------------------
@query(
    "j11_disjunctive_promo_revenue",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * CAST(round((1 - l_discount) * 100) AS BIGINT))
                 / 10000.0, 2) AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
            AND l_quantity BETWEEN 1 AND 20)
        OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 25
            AND l_quantity BETWEEN 10 AND 40)
        OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50
            AND l_quantity BETWEEN 20 AND 50))
    """,
)
def j11_disjunctive_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    branches = [
        ("Brand#12", 1, 10, 1, 20),
        ("Brand#23", 10, 25, 10, 40),
        ("Brand#34", 20, 50, 20, 50),
    ]
    part_side = None
    for brand, lo, hi, _, _ in branches:
        cond = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(lo, hi)
        )
        part_side = cond if part_side is None else (part_side | cond)
    p = read_table(spark, sf_dir, "part").filter(part_side).select(
        "p_partkey", "p_brand"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_quantity",
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * F.round((1 - F.col("l_discount")) * 100).cast("bigint")
        ).alias("rev_i"),
    )
    residual = None
    for brand, _, _, qlo, qhi in branches:
        cond = (F.col("p_brand") == brand) & F.col("l_quantity").between(
            qlo, qhi
        )
        residual = cond if residual is None else (residual | cond)
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).filter(
        residual
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("rev_i") / 10000.0, 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# SUB6 — top-revenue suppliers (TPC-H Q15 shape): suppliers whose revenue
# over one quarter EQUALS the maximum — the "create view + scalar max"
# query. Ties must be kept, so tie membership has to be engine-stable:
# revenue is accumulated as exact integer cents×pct and the max/equality
# comparison happens ON THE INTEGER, never on a rounded double (two
# suppliers within float noise of each other would otherwise flip the
# row set between engines). Registered as the window-max decorrelation.
# Scale: one partial+final agg to |suppliers| rows, a single-partition
# window over that agg output (|suppliers| rows — fine; at warehouse
# scale this is thousands, not billions), broadcast supplier dim for the
# name. Never a second scan of lineitem, which the textbook correlated
# form implies.
# ---------------------------------------------------------------------------
@query(
    "sub6_top_revenue_suppliers",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(round((1 - l_discount) * 100) AS BIGINT))
               AS total_i
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01'
        AND l_shipdate < DATE '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           round(total_i / 10000.0, 2) AS total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_i = (SELECT max(total_i) FROM revenue)
    """,
)
def sub6_top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * F.round((1 - F.col("l_discount")) * 100).cast("bigint")
        ).alias("total_i")
    )
    w = Window.partitionBy()
    top = revenue.withColumn("__max_i", F.max("total_i").over(w)).filter(
        F.col("total_i") == F.col("__max_i")
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        top.join(F.broadcast(s), top["supplier_no"] == s["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_i") / 10000.0, 2).alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# SUB7 — parts above a revenue-share threshold (TPC-H Q11 shape): GROUP BY
# + HAVING against a scalar derived from the global total. The adaptation
# (no partsupp table in this schema): parts whose lineitem revenue exceeds
# 1.5x the MEAN per-part revenue — mean-relative rather than
# total-relative because a fixed fraction of the total selects a
# vanishing set as |parts| grows (Q11 itself rescales its fraction by SF
# for the same reason). Both the per-group sums and the global total are
# exact integers; the threshold comparison is cross-multiplied to stay
# integer-only (2 * n_parts * part_i > 3 * total — no float boundary).
# The global total is summed as decimal(38,0): int64 holds per-part sums
# through ~sf1000, but the corpus-wide total crosses 2^63 around sf300,
# and ANSI mode would make that a hard error at the worst time. DuckDB's
# sum(BIGINT) is int128 natively.
# Scale: ONE scan — per-part partial+final agg, then the 1-row total is
# re-aggregated FROM the per-part frame (|parts| rows, not a second
# lineitem pass) and broadcast back. The textbook form's two scans of
# the fact table collapse into one.
# ---------------------------------------------------------------------------
@query(
    "sub7_key_part_revenue_share",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS part_i
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey AS p_partkey,
           round(part_i / 10000.0, 2) AS part_revenue
    FROM per_part
    WHERE 2 * part_i * (SELECT count(*) FROM per_part)
          > 3 * (SELECT sum(part_i) FROM per_part)
    """,
)
@checkpointed
def sub7_key_part_revenue_share(
    h: Held, spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    # per_part feeds TWO consumers (the 1-row total and the filter);
    # uncached, Catalyst evaluates the subtree twice — two full lineitem
    # scans + two aggregates (the kl1/tf1 multi-reference trap). The frame
    # is |parts| rows.
    per_part = h.keep(li.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * F.round((1 - F.col("l_discount")) * 100).cast("bigint")
        ).alias("part_i")
    ))
    per_part.count()
    total = per_part.agg(
        F.sum(F.col("part_i").cast("decimal(38,0)")).alias("__total_i"),
        F.count(F.lit(1)).alias("__n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            2 * F.col("part_i").cast("decimal(38,0)") * F.col("__n_parts")
            > 3 * F.col("__total_i")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round(F.col("part_i") / 10000.0, 2).alias("part_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# SUB8 — dominant suppliers of red parts (TPC-H Q20 shape): the nested
# IN-chain — suppliers who in 1997 shipped a strict majority (>50%) of
# some red-named part's total 1997 volume. part filter → per-(part,
# supplier) quantity → against per-part total → distinct suppliers →
# supplier dim. Quantities are integer-valued doubles; cast to bigint
# AFTER rounding so the majority comparison is integer (qty*2 > total —
# no float boundary).
# Scale: the red-part filter broadcasts into a semi join on the lineitem
# scan (partkey pruning before any shuffle); ONE shuffle on (partkey,
# suppkey) for the pair agg; the per-part total is a window over the
# pair frame partitioned by partkey (re-aggregating |pairs| rows, never
# re-scanning lineitem); the surviving supplier set semi-joins into the
# broadcast supplier dim.
# ---------------------------------------------------------------------------
@query(
    "sub8_dominant_red_part_suppliers",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_name LIKE 'red%')
        AND l_shipdate >= DATE '1997-01-01'
        AND l_shipdate < DATE '1998-01-01'
      GROUP BY l_suppkey, l_partkey
      HAVING CAST(round(sum(l_quantity)) AS BIGINT) * 2 > (
        SELECT CAST(round(sum(l2.l_quantity)) AS BIGINT)
        FROM lineitem l2
        WHERE l2.l_partkey = lineitem.l_partkey
          AND l2.l_shipdate >= DATE '1997-01-01'
          AND l2.l_shipdate < DATE '1998-01-01'
      )
    )
    """,
)
def sub8_dominant_red_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    red = read_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("red%")
    ).select("p_partkey")
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    )
    pairs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.round(F.sum("l_quantity")).cast("bigint").alias("pair_qty")
    )
    w = Window.partitionBy("l_partkey")
    dominant = (
        pairs.withColumn("__part_qty", F.sum("pair_qty").over(w))
        .filter(F.col("pair_qty") * 2 > F.col("__part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(
        F.broadcast(dominant),
        s["s_suppkey"] == dominant["l_suppkey"],
        "left_semi",
    )


# ---------------------------------------------------------------------------
# EW1 — per-user EWMA level (bounded lookback 10, α=0.3): the smoothed
# "current level" of each user's event values — the time-series
# denoising staple next to w4's flat rolling mean. See
# operators/windows.py:ewma for why the lookback is bounded (exact
# infinite-history EWMA is sequential per key — a single-task chain at
# scale) and why the weights are explicit pow() terms (cross-engine
# reproducible, unlike the order-sensitive recursive update). Both
# engines fold the identical closed form from the identical frame;
# output rounded to 4 (float noise ~1e-13, truncation bias < 0.7^10).
# Scale: one shuffle on user_id shared by the EWMA frame and the
# latest-row filter (same partitioning), O(lookback) per row.
# ---------------------------------------------------------------------------
@query(
    "ew1_ewma_user_level_events",
    oracle="""
    WITH base AS (
      SELECT user_id,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
               AS arr,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE value IS NOT NULL
    )
    SELECT user_id,
           round(list_sum(list_transform(arr, (x, i) ->
                     x * pow(0.7, len(arr) - i)))
                 / list_sum(list_transform(arr, (x, i) ->
                     pow(0.7, len(arr) - i))), 4) AS last_ewma
    FROM base WHERE rn = 1
    """,
)
def ew1_ewma_user_level_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    smoothed = windows.ewma(
        e,
        partition_by=["user_id"],
        order_by=[F.col("ts"), F.col("event_id")],
        value="value",
        alpha=0.3,
        lookback=10,
        out_col="__ewma",
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
    )
    return (
        smoothed.withColumn("__rn", rn)
        .filter(F.col("__rn") == 1)
        .select("user_id", F.round(F.col("__ewma"), 4).alias("last_ewma"))
    )


# ---------------------------------------------------------------------------
# WA1 — trailing-7-day distinct active users per day (the WAU curve): the
# sliding-DISTINCT class, which no window frame can express at scale
# because COUNT(DISTINCT) cannot partial-aggregate across frame slides.
# The scalable form: dedup to (user, activity-day) FIRST (the big
# cardinality killer — events per user-day collapse to one row), then
# explode each activity day into the 7 target days it contributes to,
# then one distinct count per target day. Trailing windows past the last
# observed day are cut by a broadcast 1-row max.
# Scale: shuffle 1 dedups (user, day); the ×7 explode happens on the
# DEDUPED frame (bounded by 7·|user-days|, not 7·|events|); shuffle 2 is
# the (target_day, user) distinct aggregate with map-side partials. An
# approximate variant would merge per-day HLL sketches over the window
# (ad1's machinery) — this is the exact path.
# ---------------------------------------------------------------------------
@query(
    "wa1_weekly_active_users_events",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ), contrib AS (
      SELECT user_id, d + t.o AS target_day
      FROM ud CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS o) t
    )
    SELECT target_day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau_7d
    FROM contrib
    WHERE target_day <= (SELECT max(d) FROM ud)
    GROUP BY target_day
    """,
)
@checkpointed
def wa1_weekly_active_users_events(
    h: Held, spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    # The deduped frame feeds TWO consumers (the max-day scalar and the
    # contribution explode); uncached, each re-scans events and re-runs
    # the dedup shuffle (the kl1/sub7 multi-reference trap).
    ud = h.keep(e.select("user_id", F.to_date("ts").alias("d")).distinct())
    ud.count()
    maxd = ud.agg(F.max("d").alias("__maxd"))
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"),
        "d",
    ).select(
        "user_id", F.date_add(F.col("d"), F.col("o")).alias("target_day")
    )
    return (
        contrib.crossJoin(F.broadcast(maxd))
        .filter(F.col("target_day") <= F.col("__maxd"))
        .groupBy("target_day")
        .agg(F.count_distinct("user_id").alias("wau_7d"))
    )


# ---------------------------------------------------------------------------
# CQ1 — dirty-CSV quarantine (dead-letter routing): ingest a CSV whose
# value field is corrupted on a known key set (event_id % 97 == 0 → the
# literal '###'), parse under an explicit schema in PERMISSIVE mode with
# a corrupt-record column, and split good rows from quarantined ones.
# The distinction this pins: a legitimately EMPTY value parses as null
# (good row, value missing — T13 semantics), while an unparseable value
# quarantines the whole raw line. Output: good/quarantined counts, exact
# good-row cents, and a commutative md5-prefix checksum of the
# quarantined event_ids, so every routed row is value-pinned. The oracle
# recomputes all four from the ORIGINAL parquet and the same %97 rule.
# Scale: schema-pinned splittable parse (no inference pass), per-line
# malformed handling, one aggregate; the corrupted staging file is built
# with Spark's own double→string shortest-roundtrip cast, so good-row
# values survive the text round-trip bit-for-bit (the csv1 guarantee).
# ---------------------------------------------------------------------------
def staged_dirty_csv(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per events version) the events CSV with planted
    corruption on event_id % 97 — shared by the batch quarantine (cq1) and
    its streaming twin (st8)."""
    import os

    def build(base: str) -> str:
        ev = read_table(spark, sf_dir, "events")
        line = F.concat(
            F.col("event_id").cast("string"),
            F.lit(","),
            F.col("event_type"),
            F.lit(","),
            F.when(F.col("event_id") % 97 == 0, F.lit("###")).otherwise(
                F.coalesce(F.col("value").cast("string"), F.lit(""))
            ),
        )
        path = os.path.join(base, "dirty_csv")
        ev.select(line.alias("value")).write.text(path)
        return path

    return staged(sf_dir, ("events",), ("cq1",), build)


@query(
    "cq1_csv_quarantine_events",
    oracle="""
    SELECT
      CAST(count(*) FILTER (WHERE event_id % 97 <> 0) AS BIGINT) AS n_good,
      CAST(count(*) FILTER (WHERE event_id % 97 = 0) AS BIGINT)
        AS n_quarantined,
      CAST(sum(CASE WHEN event_id % 97 <> 0
                    THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
        AS good_cents,
      CAST(sum(CASE WHEN event_id % 97 = 0
                    THEN CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                                              1, 8)) AS UBIGINT) END)
           AS BIGINT) AS quarantine_checksum
    FROM events
    """,
)
def cq1_csv_quarantine_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agent_data_wrangler_spark.sources.readers import read_csv_quarantine

    staged = staged_dirty_csv(spark, sf_dir)
    parsed = read_csv_quarantine(
        spark, staged, "event_id bigint, event_type string, value double"
    )
    bad = F.col("_corrupt_record").isNotNull()
    qhash = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    return parsed.agg(
        F.count(F.when(~bad, 1)).alias("n_good"),
        F.count(F.when(bad, 1)).alias("n_quarantined"),
        F.sum(
            F.when(~bad, F.round(F.col("value") * 100).cast("bigint"))
        ).alias("good_cents"),
        F.sum(F.when(bad, qhash)).alias("quarantine_checksum"),
    )


# ---------------------------------------------------------------------------
# KS1 — exact two-sample Kolmogorov–Smirnov statistic (click vs purchase
# value distributions): the distribution-drift test a monitoring pipeline
# runs between cohorts or snapshots. Engine-exact construction: counts
# per DISTINCT value per sample (integers), cumulative counts in value
# order, and the KS supremum found as max |cum1·n2 − cum2·n1| — an
# INTEGER comparison (n1·n2 fits int64 through ~sf1000), divided once at
# the end. No float ever enters the ordering or the argmax.
# Scale: the cumulative counts come from the bucketed two-phase prefix
# sum (windows.distributed_prefix_sum) — a global value-ordered cumsum
# with NO single-reducer window; the per-value count frame is |distinct
# values|, already partial-aggregated map-side.
# ---------------------------------------------------------------------------
@query(
    "ks1_ks_drift_events",
    oracle="""
    WITH s AS (
      SELECT value,
             count(*) FILTER (WHERE event_type = 'click') AS c1,
             count(*) FILTER (WHERE event_type = 'purchase') AS c2
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
      GROUP BY value
    ), c AS (
      SELECT sum(c1) OVER (ORDER BY value) AS cum1,
             sum(c2) OVER (ORDER BY value) AS cum2,
             (SELECT sum(c1) FROM s) AS n1,
             (SELECT sum(c2) FROM s) AS n2
      FROM s
    )
    SELECT CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
           round(CAST(max(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE)
                 / (max(n1) * max(n2)), 6) AS ks_stat
    FROM c
    """,
)
@checkpointed
def ks1_ks_drift_events(h: Held, spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("click", "purchase")
    )
    # The per-value count frame feeds BOTH the prefix-sum chain and the
    # totals aggregate; uncached, each branch re-scans events and
    # re-aggregates (the kl1/sub7 multi-reference trap). |distinct values|
    # rows — orders of magnitude below the event count.
    s = h.keep(e.groupBy("value").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("c1"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("c2"),
    ))
    s.count()
    cum = windows.distributed_prefix_sums(
        s,
        ["c1", "c2"],
        "value",
        aliases=["cum1", "cum2"],
        inclusive=True,
    )
    totals = s.agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .agg(
            F.max("n1").cast("bigint").alias("n1"),
            F.max("n2").cast("bigint").alias("n2"),
            F.round(
                F.max(
                    F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
                ).cast("double")
                / (F.max("n1") * F.max("n2")),
                6,
            ).alias("ks_stat"),
        )
    )


# ---------------------------------------------------------------------------
# RL1 — blocked record linkage (entity resolution) between two FACT-sized
# tables: customers vs a deterministically perturbed copy of themselves
# (digit-mutated names on %11 keys, +1.00 balances on %13, %97 keys
# dropped) with the join key WITHHELD — linkage must rediscover it from
# the content. Blocking on (nationkey, floor(balance/1000)) turns the
# quadratic all-pairs problem into within-block candidates (the big-big
# analog of fz1's broadcast fuzzy join — neither side broadcasts at
# warehouse scale); each candidate scores a weighted Fellegi-Sunter-ish
# sum of name edit-similarity, balance closeness, and segment equality;
# the best match per right record wins on a (score desc, key asc) total
# order — equal scores cannot flip the row set between engines. The
# withheld key then grades the linkage: correct / wrong / sub-threshold
# counts are exact.
# Scale (the sf1 probe caught the first version, the sf10 probe the
# second): blocking granularity must GROW with the data — ANY fixed
# bucket width keeps block COUNT constant while block size grows
# linearly, so candidates grow quadratically (floor(bal/1000): 295 s at
# sf1; integer dollars: 13.9x per 10x decade at sf10, the quadratic term
# emerging). Blocks here are exact CENTS — the finest granularity the
# mutation model permits, ~1.1M distinct keys per nation — and each
# right record probes TWO keys (its own cents and cents−100, covering
# the +1.00 mutation exactly, which never touches the cents digits) —
# the standard multi-pass blocking move: candidates per record stay
# O(n / |distinct cents|), and the whole chain is equi shuffles, no
# cross join anywhere.
# ---------------------------------------------------------------------------
@query(
    "rl1_record_linkage_customers",
    oracle="""
    WITH a AS (
      SELECT c_custkey AS a_key, c_name AS a_name, c_acctbal AS a_bal,
             c_mktsegment AS a_seg, c_nationkey AS a_nat,
             CAST(round(c_acctbal * 100) AS BIGINT) AS a_blk
      FROM customer
    ), b AS (
      SELECT c_custkey AS b_key,
             CASE WHEN c_custkey % 11 = 0
                  THEN replace(replace(c_name, '1', '7'), '3', '9')
                  ELSE c_name END AS b_name,
             CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 1.0
                  ELSE c_acctbal END AS b_bal,
             c_mktsegment AS b_seg, c_nationkey AS b_nat
      FROM customer WHERE c_custkey % 97 <> 0
    ), probes AS (
      SELECT b.*, CAST(round(b_bal * 100) AS BIGINT) - t.o AS probe_blk
      FROM b CROSS JOIN (SELECT unnest([0, 100]) AS o) t
    ), cand AS (
      SELECT a_key, b_key,
             0.6 * (1.0 - CAST(levenshtein(a_name, b_name) AS DOUBLE)
                          / greatest(length(a_name), length(b_name)))
             + 0.25 * (1.0 - least(abs(a_bal - b_bal), 10.0) / 10.0)
             + 0.15 * (CASE WHEN a_seg = b_seg THEN 1.0 ELSE 0.0 END)
               AS score
      FROM a JOIN probes b
        ON a_nat = b_nat AND a_blk = probe_blk
    ), best AS (
      SELECT b_key, a_key, score,
             row_number() OVER (PARTITION BY b_key
                                ORDER BY score DESC, a_key ASC) AS rn
      FROM cand
    )
    SELECT
      CAST(count(*) AS BIGINT) AS n_b_records,
      CAST(count(*) FILTER (WHERE score >= 0.85 AND a_key = b_key) AS BIGINT)
        AS n_correct,
      CAST(count(*) FILTER (WHERE score >= 0.85 AND a_key <> b_key) AS BIGINT)
        AS n_wrong,
      CAST(count(*) FILTER (WHERE score < 0.85) AS BIGINT) AS n_below
    FROM best WHERE rn = 1
    """,
)
def rl1_record_linkage_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = read_table(spark, sf_dir, "customer")
    a = c.select(
        F.col("c_custkey").alias("a_key"),
        F.col("c_name").alias("a_name"),
        F.col("c_acctbal").alias("a_bal"),
        F.col("c_mktsegment").alias("a_seg"),
        F.col("c_nationkey").alias("a_nat"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("a_blk"),
    )
    b = c.filter(F.col("c_custkey") % 97 != 0).select(
        F.col("c_custkey").alias("b_key"),
        F.when(
            F.col("c_custkey") % 11 == 0,
            F.replace(
                F.replace(F.col("c_name"), F.lit("1"), F.lit("7")),
                F.lit("3"),
                F.lit("9"),
            ),
        ).otherwise(F.col("c_name")).alias("b_name"),
        F.when(F.col("c_custkey") % 13 == 0, F.col("c_acctbal") + 1.0)
        .otherwise(F.col("c_acctbal"))
        .alias("b_bal"),
        F.col("c_mktsegment").alias("b_seg"),
        F.col("c_nationkey").alias("b_nat"),
    )
    name_sim = 1.0 - F.levenshtein("a_name", "b_name").cast("double") / F.greatest(
        F.length("a_name"), F.length("b_name")
    )
    bal_sim = 1.0 - F.least(F.abs(F.col("a_bal") - F.col("b_bal")), F.lit(10.0)) / 10.0
    seg_sim = F.when(F.col("a_seg") == F.col("b_seg"), 1.0).otherwise(0.0)
    probes = b.select(
        "*", F.explode(F.array(F.lit(0), F.lit(100))).alias("o")
    ).withColumn(
        "probe_blk",
        F.round(F.col("b_bal") * 100).cast("bigint") - F.col("o"),
    )
    cand = a.join(
        probes,
        (a["a_nat"] == probes["b_nat"])
        & (a["a_blk"] == probes["probe_blk"]),
    ).select(
        "a_key",
        "b_key",
        (0.6 * name_sim + 0.25 * bal_sim + 0.15 * seg_sim).alias("score"),
    )
    rn = F.row_number().over(
        Window.partitionBy("b_key").orderBy(
            F.col("score").desc(), F.col("a_key").asc()
        )
    )
    best = cand.withColumn("rn", rn).filter(F.col("rn") == 1)
    hit = F.col("score") >= 0.85
    return best.agg(
        F.count(F.lit(1)).alias("n_b_records"),
        F.count(F.when(hit & (F.col("a_key") == F.col("b_key")), 1)).alias(
            "n_correct"
        ),
        F.count(F.when(hit & (F.col("a_key") != F.col("b_key")), 1)).alias(
            "n_wrong"
        ),
        F.count(F.when(~hit, 1)).alias("n_below"),
    )


# ---------------------------------------------------------------------------
# PV2 — file-level provenance audit via Spark's hidden ``_metadata``
# struct: every row of the partitioned staging reports WHICH file it came
# from, and the audit reconciles per-file row counts against the
# partition values parsed back out of the file paths — the "which input
# produced this row" lineage question (bad-file isolation, reprocessing
# scopes, audit trails) answered without any bookkeeping column baked
# into the data. The oracle recomputes the per-partition totals from the
# original events; a mismatch means rows are attributed to the wrong
# file or a file escaped its partition directory.
# Scale: ``_metadata`` is a constant per file — selecting it costs
# nothing; the aggregate is |files| rows; regexp_extract parses the
# partition key from the path in the scan stage.
# ---------------------------------------------------------------------------
@query(
    "pv2_file_provenance_events",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct_ids
    FROM events GROUP BY event_type
    """,
)
def pv2_file_provenance_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _partitioned_events(spark, sf_dir)
    ev = spark.read.parquet(path).select(
        "event_id",
        F.regexp_extract(
            F.col("_metadata.file_path"), r"event_type=([^/]+)/", 1
        ).alias("event_type"),
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_distinct_ids"),
    )


# ---------------------------------------------------------------------------
# Round-6 third-wave TPC-H completion batch: the remaining classic shapes
# expressible in this corpus schema (reference parity target: the pandas
# filter/agg/join repertoire of /root/reference/graph_proj/src/agent/
# tool_call_agent.py:136-146, exercised at TPC-H query complexity).
# Q4/Q12 need l_commitdate/l_receiptdate/l_shipmode and Q9's cost term
# needs partsupp.ps_supplycost — none exist in the testdata schema, so
# Q9 ships as the revenue-only adaptation (j16) and Q4/Q12 have no
# faithful analogue (documented here rather than faked).
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# A8 — forecast revenue change (TPC-H Q6 shape): the simplest possible
# plan and the purest pushdown test — a single scan whose three
# predicates all reach the parquet reader, partial-aggregated to one
# row. Discount is compared as an exact integer percent (the data's
# discounts are hundredths), so the band edges can never flip on float
# representation; revenue (price x discount) accumulates in exact
# integer cents x pct.
# Scale: zero shuffles beyond the 1-row final agg; the scan prunes both
# columns and row groups (shipdate min/max stats skip ~5/7 of the
# files at any SF).
# ---------------------------------------------------------------------------
@query(
    "a8_forecast_revenue_change",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * CAST(round(l_discount * 100) AS BIGINT))
                 / 10000.0, 2) AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
      AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
)
def a8_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    disc_pct = F.round(F.col("l_discount") * 100).cast("bigint")
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
        & disc_pct.between(5, 7)
        & (F.col("l_quantity") < 24)
    )
    rev_i = F.round(F.col("l_extendedprice") * 100).cast("bigint") * disc_pct
    return li.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum(rev_i) / 10000.0, 2).alias("revenue_delta"),
    )


# ---------------------------------------------------------------------------
# J12 — inter-region trade volume (TPC-H Q7 shape): yearly revenue
# shipped between two regions, in BOTH directions, where the customer's
# region and the line's supplier's region arrive through two independent
# dimension paths. Q7 proper uses a nation pair; this corpus has 25
# uniform nations, so at sf0.001 a single pair matches zero lineitems —
# the region-level pair keeps the exact join topology (two nation
# lookups, direction disjunction AFTER both joins) while staying
# non-vacuous at every driver SF.
# Scale: both dimension chains (supplier->nation->region,
# customer->nation->region) collapse to broadcasts; the only shuffles
# are lineitem<->orders on orderkey and orders<->customer on custkey.
# The direction disjunction cannot be pushed below either join (it
# spans both paths) but the region pre-filters on each side can and
# are: each broadcast carries only the two regions' nations.
# ---------------------------------------------------------------------------
@query(
    "j12_region_trade_volume",
    oracle="""
    SELECT sr.r_name AS supp_region, cr.r_name AS cust_region,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     * CAST(round((1 - l.l_discount) * 100) AS BIGINT))
                 / 10000.0, 2) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    WHERE (sr.r_name = 'ASIA' AND cr.r_name = 'EUROPE')
       OR (sr.r_name = 'EUROPE' AND cr.r_name = 'ASIA')
    GROUP BY 1, 2, 3
    """,
)
def j12_region_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    pair = ("ASIA", "EUROPE")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name").isin(*pair))
    # nation -> region denormalized once, reused for both dimension paths;
    # only the two regions' nations survive into the broadcasts.
    nr = n.join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    ).select("n_nationkey", "r_name")
    s = read_table(spark, sf_dir, "supplier").join(
        F.broadcast(nr), F.col("s_nationkey") == nr["n_nationkey"]
    ).select("s_suppkey", F.col("r_name").alias("supp_region"))
    c = read_table(spark, sf_dir, "customer").join(
        F.broadcast(nr), F.col("c_nationkey") == nr["n_nationkey"]
    ).select("c_custkey", F.col("r_name").alias("cust_region"))
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").alias("l_year"),
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * F.round((1 - F.col("l_discount")) * 100).cast("bigint")
        ).alias("rev_i"),
    )
    co = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "o_orderkey", "cust_region"
    )
    j = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(co, li["l_orderkey"] == co["o_orderkey"])
        .filter(
            ((F.col("supp_region") == pair[0]) & (F.col("cust_region") == pair[1]))
            | ((F.col("supp_region") == pair[1]) & (F.col("cust_region") == pair[0]))
        )
    )
    return j.groupBy("supp_region", "cust_region", "l_year").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("rev_i") / 10000.0, 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# J13 — national market share (TPC-H Q8 shape): for PROMO-type parts
# sold to ASIA customers, the share of revenue supplied from one nation
# per order year. The ratio-of-conditional-sum-to-sum pattern: both
# accumulate in the SAME pass as exact integers, and only the final
# division produces a double — so tie-free, engine-stable shares.
# Scale: part, supplier, nation, region all broadcast; the two fact
# shuffles (orderkey, custkey) are shared with every other star query;
# the conditional numerator adds zero plan cost (one CASE inside the
# partial agg).
# ---------------------------------------------------------------------------
@query(
    "j13_market_share",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
           round(sum(CASE WHEN sn.n_name = 'NATION_5'
                          THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                               * CAST(round((1 - l.l_discount) * 100) AS BIGINT)
                          ELSE 0 END)
                 / sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                       * CAST(round((1 - l.l_discount) * 100) AS BIGINT)),
                 6) AS mkt_share
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN region r ON cn.n_regionkey = r.r_regionkey
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    GROUP BY 1
    """,
)
def j13_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = n.join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    ).select("n_nationkey")
    c = read_table(spark, sf_dir, "customer").join(
        F.broadcast(asia_nations), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey")
    p = read_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * F.round((1 - F.col("l_discount")) * 100).cast("bigint")
        ).alias("rev_i"),
    )
    # PROMO-part prefilter broadcast onto lineitem FIRST: it is the most
    # selective predicate (~1/6 of parts), so the fact shuffles carry only
    # surviving lines.
    lp = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    lps = lp.join(F.broadcast(s), lp["l_suppkey"] == s["s_suppkey"]).join(
        F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key")
    )
    co = o.join(c, o["o_custkey"] == c["c_custkey"]).select("o_orderkey", "o_year")
    j = lps.join(co, lps["l_orderkey"] == co["o_orderkey"])
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_5", F.col("rev_i")).otherwise(
            F.lit(0).cast("bigint")
        )
    )
    return j.groupBy("o_year").agg(
        F.round(num / F.sum("rev_i"), 6).alias("mkt_share")
    )


# ---------------------------------------------------------------------------
# J14 — returned-item reporting (TPC-H Q10 shape): the 20 customers who
# returned the most revenue in one quarter, with their nation. Rank and
# LIMIT happen on the exact integer revenue with custkey as the final
# tie-break, so the top-20 SET is engine-deterministic even if two
# customers returned identical totals.
# Scale: the agg output is |customers-with-returns| rows; the sort is
# TakeOrderedAndProject (per-partition top-20 heaps, never a global
# sort); customer and nation broadcast onto the agg output, not onto
# the fact table.
# ---------------------------------------------------------------------------
@query(
    "j14_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                          * CAST(round((1 - l.l_discount) * 100) AS BIGINT))
                      AS BIGINT) / 10000.0, 2) AS returned_revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= DATE '1996-10-01'
      AND o.o_orderdate < DATE '1997-01-01'
    GROUP BY 1, 2, 3
    ORDER BY sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) DESC,
             c.c_custkey ASC
    LIMIT 20
    """,
)
def j14_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    ).select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select(
        "l_orderkey",
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * F.round((1 - F.col("l_discount")) * 100).cast("bigint")
        ).alias("rev_i"),
    )
    # Aggregate DOWN to per-customer totals before touching any dimension:
    # the broadcasts then enrich |customers| rows, not |lineitems|.
    per_cust = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(F.sum("rev_i").alias("rev_total_i"))
    )
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    top = (
        per_cust.join(F.broadcast(c), per_cust["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .orderBy(F.col("rev_total_i").desc(), F.col("c_custkey").asc())
        .limit(20)
    )
    return top.select(
        "c_custkey",
        "c_name",
        "n_name",
        F.round(F.col("rev_total_i") / 10000.0, 2).alias("returned_revenue"),
    )


# ---------------------------------------------------------------------------
# J15 — promotion revenue share (TPC-H Q14 shape): what fraction of one
# month's shipped revenue came from PROMO-type parts. The classic
# conditional-sum-over-sum scalar; both sums accumulate as exact
# integers in one pass, the percentage is the only double.
# Scale: part broadcasts; lineitem never shuffles (broadcast join +
# 1-row partial agg); the shipdate band prunes row groups at the scan.
# ---------------------------------------------------------------------------
@query(
    "j15_promo_revenue",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                  THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                       * CAST(round((1 - l.l_discount) * 100) AS BIGINT)
                  ELSE 0 END)
             / sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   * CAST(round((1 - l.l_discount) * 100) AS BIGINT)),
             4) AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= DATE '1997-03-01' AND l.l_shipdate < DATE '1997-04-01'
    """,
)
def j15_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("date"))
    ).select(
        "l_partkey",
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * F.round((1 - F.col("l_discount")) * 100).cast("bigint")
        ).alias("rev_i"),
    )
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", F.col("rev_i")).otherwise(
            F.lit(0).cast("bigint")
        )
    )
    return j.agg(
        F.round(F.lit(100.0) * promo / F.sum("rev_i"), 4).alias("promo_pct")
    )


# ---------------------------------------------------------------------------
# J16 — product-line profit by nation and year (TPC-H Q9 shape, revenue
# adaptation): revenue from parts named like '%red%', grouped by the
# SUPPLIER's nation and the order year. Q9 proper subtracts
# ps_supplycost * l_quantity; this corpus has no partsupp table, so the
# cost term has no data to come from and the query ships as the
# revenue-only variant — same 5-table topology, same name-LIKE part
# filter that defeats naive pushdown (it cannot use stats, but it CAN
# broadcast-prefilter).
# Scale: the part name filter runs once over the broadcast part dim;
# supplier+nation broadcast; one fact shuffle per star edge as usual.
# ---------------------------------------------------------------------------
@query(
    "j16_product_type_profit",
    oracle="""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                     * CAST(round((1 - l.l_discount) * 100) AS BIGINT))
                 / 10000.0, 2) AS revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def j16_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = read_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    ).select("p_partkey")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * F.round((1 - F.col("l_discount")) * 100).cast("bigint")
        ).alias("rev_i"),
    )
    j = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
    )
    return j.groupBy(F.col("n_name").alias("nation"), "o_year").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("rev_i") / 10000.0, 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# SUB9 — supplier diversity per part group (TPC-H Q16 shape): how many
# DISTINCT suppliers ship each (brand, type, size) part group, excluding
# one brand, one type, sizes outside a whitelist, and a supplier
# denylist (Q16 proper excludes complaint suppliers via a comment LIKE;
# this corpus has no comment column, so the denylist is negative-balance
# suppliers — same NOT IN topology).
# Scale: the expensive step is the distinct — it runs on (partkey,
# suppkey) PAIRS first (map-side partial distinct shrinks the shuffle
# to unique pairs), not on joined rows; part (pre-filtered) and the
# denylist both broadcast; the final count-distinct-per-group re-uses
# the pair distinct's partitioning.
# ---------------------------------------------------------------------------
@query(
    "sub9_part_supplier_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p_brand <> 'Brand#9' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def sub9_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#9")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = read_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("l_suppkey"))
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    pairs = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(bad), on="l_suppkey", how="left_anti")
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    return pairs.groupBy("p_brand", "p_type", "p_size").agg(
        F.count(F.lit(1)).alias("supplier_cnt")
    )


# ---------------------------------------------------------------------------
# SUB10 — global sales opportunity, hardened (TPC-H Q22 shape). sub5
# already registers the textbook Q22 topology; this variant exists for
# the two places the textbook form is fragile at scale, and upgrades
# both:
# 1. Determinism: sub5 compares c_acctbal against the FLOAT avg — a
#    customer within one ULP of the average can flip membership between
#    engines (summation order). Here the threshold comparison runs on
#    EXACT integers — cents(c) * n_positive > sum_positive_cents — so
#    the boundary can never flip (sum/count/product all bigint;
#    overflow headroom to ~sf10^5).
# 2. The NOT EXISTS is date-restricted ("no orders SINCE 1999" — the
#    realistic dormancy question) and its right side is shrunk to
#    DISTINCT custkeys BEFORE the anti-join shuffle, the shape sub5's
#    unrestricted version never exercises.
# Scale: the threshold is a 1-row broadcast (crossJoin of an aggregate
# scalar); the anti-join's right side is the DISTINCT custkeys of
# recent orders (shrunk before the shuffle); output is |nations| rows.
# ---------------------------------------------------------------------------
@query(
    "sub10_global_sales_opportunity",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_cust,
           round(CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
                 / 100.0, 2) AS total_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE CAST(round(c.c_acctbal * 100) AS BIGINT)
          * (SELECT count(*) FROM customer WHERE c_acctbal > 0)
          > (SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= DATE '1999-01-01')
    GROUP BY 1
    """,
)
def sub10_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_i"),
    )
    thresh = c.filter(F.col("bal_i") > 0).agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.sum("bal_i").cast("bigint").alias("sum_pos"),
    )
    recent = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("date"))
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rich = (
        c.crossJoin(F.broadcast(thresh))
        .filter(F.col("bal_i") * F.col("n_pos") > F.col("sum_pos"))
        .join(recent, on="c_custkey", how="left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
    )
    return rich.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.round(F.sum("bal_i").cast("bigint") / 100.0, 2).alias("total_acctbal"),
    )


# ---------------------------------------------------------------------------
# MC1 — peak concurrent open orders (sweep-line interval counting): for each
# priority class, the maximum number of orders simultaneously "open"
# (between o_orderdate and the max l_shipdate of their lineitems) and the
# earliest day that peak is reached. The classic +1/-1 sweep: intervals
# become boundary deltas, deltas aggregate to per-day nets, a running sum
# over days is the concurrency curve.
# Scale: the only fact-sized shuffle is the orderkey join (orders x the
# per-order max-shipdate aggregate). Deltas are aggregated to (priority,
# day) grain BEFORE the window — the running sum then runs over
# |priorities| x |days| rows (thousands), not |orders|, so the low-
# cardinality window partitioning is harmless at any SF. The peak argmax
# is a one-pass lexicographic struct max (open desc, day asc via negated
# unix_date), no join-back.
# ---------------------------------------------------------------------------
@query(
    "mc1_peak_open_orders",
    oracle="""
    WITH iv AS (
        SELECT o.o_orderpriority AS prio,
               CAST(o.o_orderdate AS DATE) AS start_d,
               e.end_d
        FROM orders o
        JOIN (SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS end_d
              FROM lineitem GROUP BY 1) e
          ON o.o_orderkey = e.l_orderkey
    ),
    d AS (
        SELECT prio, start_d AS day, 1 AS delta FROM iv
        UNION ALL
        SELECT prio, end_d + 1 AS day, -1 AS delta FROM iv
    ),
    pd AS (SELECT prio, day, CAST(sum(delta) AS BIGINT) AS net
           FROM d GROUP BY 1, 2),
    c AS (SELECT prio, day,
                 CAST(sum(net) OVER (PARTITION BY prio ORDER BY day) AS BIGINT) AS open
          FROM pd),
    m AS (SELECT prio, max(open) AS peak FROM c GROUP BY 1)
    SELECT c.prio AS o_orderpriority, m.peak AS peak_open,
           min(c.day) AS peak_day
    FROM c JOIN m ON c.prio = m.prio AND c.open = m.peak
    GROUP BY 1, 2
    """,
)
def mc1_peak_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.to_date("o_orderdate").alias("start_d"),
    )
    ends = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("end_d"))
    )
    iv = o.join(ends, o["o_orderkey"] == ends["l_orderkey"])
    deltas = iv.select(
        "prio", F.col("start_d").alias("day"), F.lit(1).alias("delta")
    ).unionByName(
        iv.select(
            "prio", F.date_add("end_d", 1).alias("day"), F.lit(-1).alias("delta")
        )
    )
    per_day = deltas.groupBy("prio", "day").agg(
        F.sum("delta").cast("bigint").alias("net")
    )
    w = windows.Window.partitionBy("prio").orderBy("day").rowsBetween(
        windows.Window.unboundedPreceding, windows.Window.currentRow
    )
    curve = per_day.select(
        "prio", "day", F.sum("net").over(w).cast("bigint").alias("open")
    )
    # One-pass argmax: struct compares lexicographically, so (open, -unix_date)
    # maximizes open first, then the EARLIEST day on ties.
    mx = curve.groupBy(F.col("prio").alias("o_orderpriority")).agg(
        F.max(
            F.struct(
                F.col("open").alias("o"),
                (-F.unix_date("day")).alias("nd"),
            )
        ).alias("mx")
    )
    return mx.select(
        "o_orderpriority",
        F.col("mx.o").alias("peak_open"),
        F.date_from_unix_date(-F.col("mx.nd")).alias("peak_day"),
    )


# ---------------------------------------------------------------------------
# SQ2 — sequence pattern with negation (MATCH_RECOGNIZE shape): per user,
# does the first 'signup' convert to a 'purchase' within 24 hours with NO
# intervening 'error'? Funnels (fn1) count ordered step attainment; the
# negation ("no E strictly between A and B") is the piece ordinary funnel
# counting cannot express, and the reason SQL engines grew MATCH_RECOGNIZE.
# Expressed here without any per-user sort: conditional MIN aggregates
# recover the first qualifying purchase/error per user, and the verdict is
# a three-way CASE on their order.
# Scale: events pre-filtered to the three relevant types at the scan, one
# shuffle on user_id for the signup anchor, one partitioning-reused shuffle
# for the join+agg; state per user is two timestamps, never a collected
# event list. At 100 TB the same plan holds — no sort, no explode, no
# per-user arrays.
# ---------------------------------------------------------------------------
@query(
    "sq2_signup_conversion_pattern",
    oracle="""
    WITH su AS (
        SELECT user_id, min(ts) AS signup_ts
        FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    per_user AS (
        SELECT e.user_id,
               min(CASE WHEN e.event_type = 'purchase' AND e.ts > su.signup_ts
                         AND e.ts <= su.signup_ts + INTERVAL 24 HOUR
                        THEN e.ts END) AS p_ts,
               min(CASE WHEN e.event_type = 'error' AND e.ts > su.signup_ts
                        THEN e.ts END) AS e_ts
        FROM events e JOIN su ON e.user_id = su.user_id
        WHERE e.event_type IN ('signup', 'purchase', 'error')
        GROUP BY 1
    )
    SELECT CASE WHEN p_ts IS NULL THEN 'no_purchase'
                WHEN e_ts IS NOT NULL AND e_ts < p_ts THEN 'blocked_by_error'
                ELSE 'converted' END AS outcome,
           CAST(count(*) AS BIGINT) AS n_users
    FROM per_user
    GROUP BY 1
    """,
)
def sq2_signup_conversion_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase", "error")
    ).select("user_id", "event_type", "ts")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    j = ev.join(su, "user_id")
    deadline = F.col("signup_ts") + F.expr("INTERVAL 24 HOURS")
    per_user = j.groupBy("user_id").agg(
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("signup_ts"))
                & (F.col("ts") <= deadline),
                F.col("ts"),
            )
        ).alias("p_ts"),
        F.min(
            F.when(
                (F.col("event_type") == "error")
                & (F.col("ts") > F.col("signup_ts")),
                F.col("ts"),
            )
        ).alias("e_ts"),
    )
    outcome = (
        F.when(F.col("p_ts").isNull(), "no_purchase")
        .when(F.col("e_ts").isNotNull() & (F.col("e_ts") < F.col("p_ts")), "blocked_by_error")
        .otherwise("converted")
    )
    return per_user.groupBy(outcome.alias("outcome")).agg(
        F.count(F.lit(1)).alias("n_users")
    )


# ---------------------------------------------------------------------------
# FI1 — frequent co-purchased part pairs (market-basket mining): the top-20
# part pairs that appear together in the most orders. The canonical
# frequent-itemset k=2 pass — the building block recommendation and
# "bought-together" pipelines run at scale.
# Scale: parts are deduped per order BEFORE pairing, so the within-order
# self-join fans out C(basket_size, 2) per order — bounded by the max
# basket (TPC-H ~7 lines), linear in orders, never |parts|². Both join
# sides are the same deduped frame shuffled once on orderkey (reused
# exchange); pair counts partial-aggregate map-side; top-20 is a
# TakeOrderedAndProject heap on the (count desc, p1, p2) total order.
# ---------------------------------------------------------------------------
@query(
    "fi1_frequent_part_pairs",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS p1, b.l_partkey AS p2,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, p1 ASC, p2 ASC
    LIMIT 20
    """,
)
def fi1_frequent_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13-opt (the mb1 rewrite): per-order part SETS from one
    # groupBy(collect_set) — the .distinct() shuffle fuses into the same
    # aggregation — and the p1<p2 pairs generated inside the sorted array
    # (bounded by basket size), so the pair stage shuffles |orders| set
    # rows once instead of shuffling the deduped frame twice and joining.
    sets = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    combos = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + F.lit(2), F.size(F.col("ps"))),
                lambda y: F.struct(x.alias("p1"), y.alias("p2")),
            ),
        )
    )
    return (
        sets.select(F.explode(combos).alias("pr"))
        .select("pr.p1", "pr.p2")
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), F.col("p1").asc(), F.col("p2").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TR1 — triangle counting on the co-supply graph (the third classic
# distributed-graph op next to PageRank gr1 and connected components cc1).
# Vertices are suppliers; an edge joins two suppliers whose shared-order
# count is in the TOP DECILE of pair weights (exact interpolating
# percentile — data-derived, so the graph stays meaningfully sparse at
# every SF; this testdata's co-supply graph is near-complete, so an
# above-average cut kept ~half the edges and the 2-path join dominated
# the bench at 8s/sf0.1 — p90 restores realistic sparsity, 518 triangles
# at sf0.01. Integer weights interpolate identically in both engines, so
# the boundary can't flip cross-engine).
# Scale: the node-iterator join is ORIENTED by (degree, id) — every edge
# points from its lower-degree endpoint — so 2-path fanout is bounded by
# the max OUT-degree (≈ sqrt(|E|) even on graphs with hub vertices; the
# standard Suri-Vassilvitskii MapReduce-triangles bound), and each
# triangle is produced exactly once. Edge weights aggregate from per-order
# pairs that fan out C(suppliers_per_order, 2) per order — linear in
# orders, never |suppliers|².
# ---------------------------------------------------------------------------
@query(
    "tr1_triangle_count",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    pairs AS (
        SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
               CAST(count(*) AS BIGINT) AS w
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2),
    tot AS (SELECT quantile_cont(w, 0.9) AS q FROM pairs),
    edges AS (SELECT s1, s2 FROM pairs, tot WHERE w >= q),
    tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM edges e1
            JOIN edges e2 ON e2.s1 = e1.s2
            JOIN edges e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           n_triangles
    FROM tri
    """,
)
@checkpointed
def tr1_triangle_count(h: Held, spark: SparkSession, sf_dir: str) -> DataFrame:
    from agent_data_wrangler_spark.plans.derived import trade_graph_tables

    # The (s1, s2, w) co-supply pair weights come from the MATERIALIZED
    # rollup (plans/derived.py): the within-order pair expansion + count
    # was tr1's dominant cost and the reason its sf1→sf10 ratio grew
    # (SCALING.md r09) — one build amortizes across tr1/rx1/dg1 and
    # across repeated invocations; tr1 starts at the thresholding step.
    pairs = trade_graph_tables(spark, sf_dir, "cosupply_pairs")
    tot = pairs.agg(F.expr("percentile(w, 0.9)").alias("q"))
    edges = h.keep(
        pairs.crossJoin(F.broadcast(tot))
        .filter(F.col("w") >= F.col("q"))
        .select("s1", "s2")
    )
    # Orient by (degree, id): each edge points from its lower (deg, id)
    # endpoint, bounding the 2-path join's per-vertex fanout by the max
    # out-degree and producing each triangle exactly once.
    deg = (
        edges.select(F.col("s1").alias("v"))
        .unionByName(edges.select(F.col("s2").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    d1 = deg.select(F.col("v").alias("s1"), F.col("deg").alias("deg1"))
    d2 = deg.select(F.col("v").alias("s2"), F.col("deg").alias("deg2"))
    ranked = edges.join(d1, "s1").join(d2, "s2")
    lower_first = (F.col("deg1") < F.col("deg2")) | (
        (F.col("deg1") == F.col("deg2")) & (F.col("s1") < F.col("s2"))
    )
    oriented = h.keep(ranked.select(
        F.when(lower_first, F.col("s1")).otherwise(F.col("s2")).alias("src"),
        F.when(lower_first, F.col("s2")).otherwise(F.col("s1")).alias("dst"),
    ))
    p1 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    p2 = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    two_paths = p1.join(p2, "b")
    # Closing edge may carry either orientation relative to the 2-path ends.
    closing = oriented.select(
        F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
    )
    closed = two_paths.select(
        F.least("a", "c").alias("lo"), F.greatest("a", "c").alias("hi")
    ).join(closing, ["lo", "hi"], "left_semi")
    n_edges = edges.count()
    return closed.agg(
        F.lit(n_edges).cast("bigint").alias("n_edges"),
        F.count(F.lit(1)).alias("n_triangles"),
    )


# ---------------------------------------------------------------------------
# PQ1 — SQL pipe syntax (Spark 4): the flagship segment-revenue aggregation
# written in the new `|>` pipe dialect, proving the engine's SQL surface
# covers it. The oracle is the equivalent ANSI form — identical integer-
# cents math, so the parity check is exact. Catalyst plans pipe queries
# identically to ANSI text (same pushdown/broadcast), so there is no scale
# delta to manage.
# ---------------------------------------------------------------------------
_PQ1_PIPE_SQL = """
FROM orders
|> WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
|> JOIN customer ON o_custkey = c_custkey
|> AGGREGATE count(*) AS n_orders,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
   GROUP BY c_mktsegment
|> SELECT c_mktsegment, CAST(n_orders AS BIGINT) AS n_orders,
          round(CAST(cents AS DOUBLE) / 100.0, 2) AS total_revenue
"""


@query(
    "pq1_pipe_syntax_revenue",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 / 100.0, 2) AS total_revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
    GROUP BY 1
    """,
)
def pq1_pipe_syntax_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agent_data_wrangler_spark.plans.sql import run_sql

    return run_sql(spark, sf_dir, _PQ1_PIPE_SQL)


# ---------------------------------------------------------------------------
# RX1 — recursive CTE (Spark 4): bounded-hop reachability over the p90
# co-supply graph. cc1 already proves the iterative-DataFrame translation
# of recursion; this entry proves the WITH RECURSIVE SQL surface itself.
# The RECURSIVE part (thr/half/edges/reach) is the same text on both
# engines; the pair derivation differs by design — Spark reads the
# MATERIALIZED co-supply rollup (plans/derived.py, shared with tr1/gr1:
# the pair expansion was the dominant, decade-ratio-growing cost,
# SCALING.md r09), while the self-contained oracle re-derives the pairs
# from lineitem, so the rollup's content is itself hash-checked here.
# Scale: recursion depth is bounded (hop < 2) and each step is an equi
# join frontier×edges — the frontier after k hops is at most deg^k rows,
# ~10k on this graph. Unbounded recursion over a cyclic graph would be a
# frontier explosion under UNION ALL; the hop guard is the documented
# control, and first-reach dedup happens once at the end (min(hop) per
# vertex), not per step.
# ---------------------------------------------------------------------------
_RX1_RECURSIVE_SQL = """
thr AS (SELECT percentile_cont(0.9) WITHIN GROUP (ORDER BY w) AS q
        FROM cosupply_pairs),
half AS (SELECT s1, s2 FROM cosupply_pairs, thr WHERE w >= q),
edges AS (SELECT s1 AS src, s2 AS dst FROM half
          UNION ALL SELECT s2, s1 FROM half),
reach(v, hop) AS (
    SELECT (SELECT min(src) FROM edges), 0
    UNION ALL
    SELECT e.dst, r.hop + 1 FROM reach r JOIN edges e ON e.src = r.v
    WHERE r.hop < 2
)
SELECT hop, CAST(count(*) AS BIGINT) AS n_first_reached
FROM (SELECT v, min(hop) AS hop FROM reach GROUP BY v) f
GROUP BY hop ORDER BY hop
"""

_RX1_ORACLE_SQL = """
WITH RECURSIVE op AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
cosupply_pairs AS (
    SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, CAST(count(*) AS BIGINT) AS w
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    GROUP BY 1, 2),
""" + _RX1_RECURSIVE_SQL

_RX1_SPARK_SQL = "WITH RECURSIVE\n" + _RX1_RECURSIVE_SQL


@query("rx1_recursive_reachability", oracle=_RX1_ORACLE_SQL)
def rx1_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agent_data_wrangler_spark.plans.derived import trade_graph_tables

    pairs = trade_graph_tables(spark, sf_dir, "cosupply_pairs")
    # Re-register per call (metadata-only): the view must track sf_dir —
    # a lingering binding from another scale factor would silently cross
    # datasets.
    pairs.createOrReplaceTempView("cosupply_pairs")
    return spark.sql(_RX1_SPARK_SQL)


# ---------------------------------------------------------------------------
# XM1 — XML source/sink roundtrip (the enterprise-interchange format, native
# in Spark 4 / SPARK-44265): export events through the versioned XML sink
# (one <row> element per record), re-read with schema inference, aggregate.
# The oracle reads the ORIGINAL parquet, so element escaping bugs, type
# drift (long/double inference), or row loss in the XML path break the
# hash. Scale: XML is land-once-convert-to-parquet only (row-based, no
# pushdown; read_xml docstring mandates explicit schemas in production).
# ---------------------------------------------------------------------------
@query(
    "xm1_xml_roundtrip_events",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events GROUP BY event_type
    """,
)
def xm1_xml_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agent_data_wrangler_spark.sources.readers import read_xml

    out = _staged_export(spark, sf_dir, "xml", "events.xml", spread=True)
    back = read_xml(spark, out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# AV1 — Avro source/sink roundtrip (the Kafka/schema-registry interchange
# format), DETECTION-GATED like st10: spark-avro is built-in-but-external
# since Spark 2.4 and absent from plain-pip distributions (this container),
# so the query registers only where `avro_supported()` finds the module —
# no stub, no runtime failure; `tests/test_round8_ops.py` pins the gate.
# Where present: export events through the versioned Avro sink, re-read,
# aggregate; the oracle reads the ORIGINAL parquet, so row loss or type
# drift in the Avro path breaks the hash. Scale: Avro is a land-once
# format (splittable, schema-carrying, but no pushdown/pruning) — convert
# to parquet at the lake boundary.
# ---------------------------------------------------------------------------
from agent_data_wrangler_spark.sources.readers import (  # noqa: E402
    avro_supported as _avro_ok,
)

if _avro_ok():

    @query(
        "av1_avro_roundtrip_events",
        oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM events GROUP BY event_type
        """,
    )
    def av1_avro_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
        from agent_data_wrangler_spark.sources.readers import read_avro

        out = _staged_export(spark, sf_dir, "avro", "events.avro")
        back = read_avro(spark, out)
        return back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint").alias("sum_cents"),
        )


# ---------------------------------------------------------------------------
# KM1 — Kaplan-Meier survival estimate of user lifetime (time-to-churn with
# right-censoring): the standard retention-curve statistic. A user's
# observed lifetime is first-event → last-event days; users whose last
# event falls in the final 7 days of the corpus are CENSORED (still
# active), not churned — the estimator that rc1-style naive retention gets
# wrong. Per-duration d_t (churns) and the at-risk count n_t are exact
# integers; S(t) = Π(1 - d/n) runs as exp(Σ ln(...)) over the SAME ordered
# window in both engines (identical rational inputs, identical accumulation
# order), rounded to 4. Scale: one shuffle on user_id for the spans, then
# every window runs on the ≤|distinct-durations| aggregate frame (bounded
# by the corpus date span, not by rows) — the global windows here are
# windows over a tiny post-agg frame, never over raw events. The corpus
# max-ts is a 1-row broadcast.
# ---------------------------------------------------------------------------
@query(
    "km1_survival_users_events",
    oracle="""
    WITH spans AS (
      SELECT user_id,
             date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) AS duration_days,
             max(ts) AS last_ts
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ), mx AS (SELECT max(ts) AS mx_ts FROM events WHERE user_id IS NOT NULL),
    marked AS (
      SELECT duration_days,
             CASE WHEN last_ts < mx_ts - INTERVAL 7 DAY THEN 1 ELSE 0 END AS churned
      FROM spans, mx
    ), g AS (
      SELECT duration_days, CAST(count(*) AS BIGINT) AS n_end,
             CAST(sum(churned) AS BIGINT) AS n_events
      FROM marked GROUP BY duration_days
    ), risk AS (
      SELECT duration_days, n_events,
             sum(n_end) OVER () -
             coalesce(sum(n_end) OVER (ORDER BY duration_days
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM g
    )
    SELECT duration_days, CAST(n_risk AS BIGINT) AS n_risk, n_events,
           CASE WHEN max(CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY duration_days
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
                THEN 0.0
                ELSE round(exp(sum(CASE WHEN n_events < n_risk
                                        THEN ln(1.0 - CAST(n_events AS DOUBLE)
                                                      / CAST(n_risk AS DOUBLE))
                                        ELSE 0.0 END)
                     OVER (ORDER BY duration_days
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4)
           END AS survival
    FROM risk
    QUALIFY n_events > 0
    """,
)
def km1_survival_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    spans = e.groupBy("user_id").agg(
        F.datediff(F.to_date(F.max("ts")), F.to_date(F.min("ts"))).alias("duration_days"),
        F.max("ts").alias("__last"),
    )
    mx = e.agg(F.max("ts").alias("__mx"))
    marked = spans.crossJoin(F.broadcast(mx)).select(
        "duration_days",
        F.when(
            F.col("__last") < F.col("__mx") - F.expr("INTERVAL 7 DAY"), 1
        ).otherwise(0).alias("__churned"),
    )
    g = marked.groupBy("duration_days").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_end"),
        F.sum("__churned").cast("bigint").alias("n_events"),
    )
    w_all = Window.partitionBy()
    w_prev = Window.orderBy("duration_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("duration_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = g.select(
        "duration_days",
        "n_events",
        (
            F.sum("__n_end").over(w_all)
            - F.coalesce(F.sum("__n_end").over(w_prev), F.lit(0))
        ).cast("bigint").alias("n_risk"),
    )
    # ln(0) is NULL in Spark and -inf in DuckDB — the all-churn terminal
    # row (d == n) is handled explicitly: survival pins to exactly 0.0 from
    # that duration on, and the ln-sum only ever sees d < n factors.
    dead = F.max(
        F.when(F.col("n_events") >= F.col("n_risk"), 1).otherwise(0)
    ).over(w_cum)
    factor = F.when(
        F.col("n_events") < F.col("n_risk"),
        F.log(
            F.lit(1.0)
            - F.col("n_events").cast("double") / F.col("n_risk").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    surv = risk.withColumn(
        "survival",
        F.when(dead > 0, F.lit(0.0)).otherwise(
            F.round(F.exp(F.sum(factor).over(w_cum)), 4)
        ),
    )
    return surv.filter(F.col("n_events") > 0).select(
        "duration_days", "n_risk", "n_events", "survival"
    )


# ---------------------------------------------------------------------------
# RFM1 — RFM customer segmentation (recency / frequency / monetary), the
# classic CRM cut. Scores are assigned against exact interpolating QUARTILE
# BOUNDARIES (percentile / quantile_cont twins) computed in one global
# aggregate and broadcast back — NOT via a global ntile, which would be a
# full sort of every customer through one reducer at scale; comparing
# against 9 broadcast doubles is scan-stage. Integer metrics (days, count,
# cents) make the boundary comparisons bit-identical cross-engine. The
# reference date is the in-query corpus max order date (testdata drifts
# between rounds; no wall-clock).
# ---------------------------------------------------------------------------
@query(
    "rfm1_rfm_segments_customers",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             date_diff('day', CAST(max(o_orderdate) AS DATE),
                       (SELECT CAST(max(o_orderdate) AS DATE) FROM orders)) AS r,
             CAST(count(*) AS BIGINT) AS f,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m
      FROM orders GROUP BY o_custkey
    ), q AS (
      SELECT quantile_cont(r, [0.25, 0.5, 0.75]) AS qr,
             quantile_cont(f, [0.25, 0.5, 0.75]) AS qf,
             quantile_cont(m, [0.25, 0.5, 0.75]) AS qm
      FROM rfm
    )
    SELECT CAST(1 + CAST(r > qr[1] AS INT) + CAST(r > qr[2] AS INT) + CAST(r > qr[3] AS INT) AS INT) AS r_score,
           CAST(1 + CAST(f > qf[1] AS INT) + CAST(f > qf[2] AS INT) + CAST(f > qf[3] AS INT) AS INT) AS f_score,
           CAST(1 + CAST(m > qm[1] AS INT) + CAST(m > qm[2] AS INT) + CAST(m > qm[3] AS INT) AS INT) AS m_score,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM rfm, q
    GROUP BY 1, 2, 3
    """,
)
def rfm1_rfm_segments_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    mx = o.agg(F.to_date(F.max("o_orderdate")).alias("__mx"))
    rfm = (
        o.groupBy("o_custkey")
        .agg(
            F.to_date(F.max("o_orderdate")).alias("__last"),
            F.count(F.lit(1)).cast("bigint").alias("f"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("m"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            F.datediff(F.col("__mx"), F.col("__last")).alias("r"), "f", "m"
        )
    )
    q = rfm.agg(
        F.percentile("r", F.lit([0.25, 0.5, 0.75])).alias("qr"),
        F.percentile("f", F.lit([0.25, 0.5, 0.75])).alias("qf"),
        F.percentile("m", F.lit([0.25, 0.5, 0.75])).alias("qm"),
    )

    def score(col: str, bounds: str):
        return (
            F.lit(1)
            + (F.col(col) > F.element_at(bounds, 1)).cast("int")
            + (F.col(col) > F.element_at(bounds, 2)).cast("int")
            + (F.col(col) > F.element_at(bounds, 3)).cast("int")
        ).cast("int")

    return (
        rfm.crossJoin(F.broadcast(q))
        .select(
            score("r", "qr").alias("r_score"),
            score("f", "qf").alias("f_score"),
            score("m", "qm").alias("m_score"),
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# MK1 — first-order Markov transition matrix over per-user event sequences:
# P(next event type | current) — the session-flow profile behind "what do
# users do after a click". One window (partition user, order ts/event_id)
# produces (from, to) pairs; counts are exact integers and the row
# probability divides two integers (round 4). Scale: the window partitions
# by user (no global sort); the transition matrix is |types|^2 rows.
# ---------------------------------------------------------------------------
@query(
    "mk1_markov_transitions_events",
    oracle="""
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events WHERE user_id IS NOT NULL
    ), pairs AS (
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           round(CAST(n AS DOUBLE)
                 / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 4) AS p
    FROM pairs
    """,
)
def mk1_markov_transitions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    pairs = (
        e.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w_from = Window.partitionBy("from_type")
    return pairs.withColumn(
        "p",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w_from).cast("double"), 4
        ),
    )


# ---------------------------------------------------------------------------
# AC1 — autocorrelation function of the hourly revenue series (lags 1, 2,
# 3, 6, 12, 24): the seasonality detector that decides resampling and
# forecasting granularity. The series is the ts1 spine (gap hours = 0) in
# INTEGER CENTS; each lag pairs the series with itself via lead over the
# ordered spine and correlates — identical integer inputs make corr agree
# cross-engine to well past the 6-dp rounding (a7 precedent). Scale: every
# window/corr here runs on the bounded post-agg hourly frame (|hours| rows,
# set by the corpus date span — 720 at the bench SFs), not on raw events.
# ---------------------------------------------------------------------------
@query(
    "ac1_autocorr_hourly_events",
    oracle="""
    WITH e AS (SELECT date_trunc('hour', ts) AS h,
                      CAST(round(value * 100) AS BIGINT) AS cents FROM events),
    hourly AS (SELECT h, CAST(sum(cents) AS BIGINT) AS c FROM e GROUP BY 1),
    bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
              FROM bounds),
    series AS (
      SELECT s.hour, coalesce(c, CAST(0 AS BIGINT)) AS c
      FROM spine s LEFT JOIN hourly ON s.hour = hourly.h
    ),
    lags AS (SELECT unnest([1, 2, 3, 6, 12, 24]) AS lag),
    shifted AS (
      SELECT l.lag, c,
             lead(c, l.lag) OVER (PARTITION BY l.lag ORDER BY hour) AS c_next
      FROM series, lags l
    )
    SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
           round(corr(CAST(c AS DOUBLE), CAST(c_next AS DOUBLE)), 6) AS acf
    FROM shifted WHERE c_next IS NOT NULL GROUP BY lag
    """,
)
def ac1_autocorr_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("h"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    hourly = ev.groupBy("h").agg(F.sum("cents").cast("bigint").alias("c"))
    spine = ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi")).select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 hour"))
        ).alias("hour")
    )
    series = spine.join(hourly, spine.hour == hourly.h, "left").select(
        "hour", F.coalesce(F.col("c"), F.lit(0).cast("bigint")).alias("c")
    )
    lags = spark.createDataFrame([(lg,) for lg in (1, 2, 3, 6, 12, 24)], "lag int")
    # lead(c, lag) needs a constant offset, so per-row lags pair via a
    # self-join on hour + lag hours instead — both sides are the bounded
    # hourly frame, and the same rows the oracle's lead() selects.
    a = series.crossJoin(lags).select("lag", "hour", F.col("c"))
    b = series.select(F.col("hour").alias("hour_b"), F.col("c").alias("c_next"))
    paired = a.join(
        b,
        F.col("hour_b")
        == F.col("hour") + F.col("lag") * F.expr("interval 1 hour"),
    )
    return paired.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.corr(F.col("c").cast("double"), F.col("c_next").cast("double")), 6).alias("acf"),
    )


# ---------------------------------------------------------------------------
# CU1 — CUSUM changepoint scan over daily order revenue: the largest
# mean-shift candidates are the days maximizing |N·cumsum_t − t·total| —
# the classic CUSUM statistic scaled by N (days) so it stays EXACT INTEGER
# arithmetic end-to-end (no mean, no doubles; fits int64 through ~sf100 at
# ~2400 days, ANSI mode errors loudly beyond). Scale: one shuffle to daily
# partials; the cumulative window and the top-3 run on the |days| frame.
# ---------------------------------------------------------------------------
@query(
    "cu1_changepoint_daily_orders",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(cents) AS BIGINT) AS total
      FROM daily
    ), cum AS (
      SELECT day, n_days,
             CAST(sum(cents) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
             total
      FROM daily, tot
    )
    SELECT day, n_days,
           CAST(abs(n_days * cs - t * total) AS BIGINT) AS abs_scaled_cusum
    FROM cum
    ORDER BY abs_scaled_cusum DESC, day ASC LIMIT 3
    """,
)
def cu1_changepoint_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("cents").cast("bigint").alias("total"),
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_rn = Window.orderBy("day")
    cum = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n_days",
        F.sum("cents").over(w_cum).cast("bigint").alias("cs"),
        F.row_number().over(w_rn).cast("bigint").alias("t"),
        "total",
    )
    return (
        cum.select(
            "day",
            "n_days",
            F.abs(
                F.col("n_days") * F.col("cs") - F.col("t") * F.col("total")
            ).cast("bigint").alias("abs_scaled_cusum"),
        )
        .orderBy(F.col("abs_scaled_cusum").desc(), F.col("day").asc())
        .limit(3)
    )


# ---------------------------------------------------------------------------
# UP1 — UNPIVOT (melt): the wide→long reshape that is pivot's (pv1) inverse
# and the missing half of any reporting layer. A per-priority aggregate
# with three metric columns melts into (priority, metric, value) rows via
# the native DataFrame unpivot — a zero-shuffle Expand over the bounded
# aggregate, never over raw orders. Values are integer cents so the
# long-form rows hash identically cross-engine.
# ---------------------------------------------------------------------------
@query(
    "up1_unpivot_order_metrics",
    oracle="""
    WITH wide AS (
      SELECT o_orderpriority AS priority,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
             CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents
      FROM orders GROUP BY 1
    )
    SELECT priority, metric, value
    FROM wide UNPIVOT (value FOR metric IN (n_orders, total_cents, max_cents))
    """,
)
def up1_unpivot_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    wide = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(cents).cast("bigint").alias("total_cents"),
        F.max(cents).cast("bigint").alias("max_cents"),
    )
    return wide.unpivot(
        ids=["priority"],
        values=["n_orders", "total_cents", "max_cents"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# ---------------------------------------------------------------------------
# GP1 — gaps-and-islands over the event-id sequence: find the contiguous
# runs (islands) that remain after a deterministic retention filter drops
# every 97th id — the classic id − row_number() grouping trick, the shape
# behind missing-record audits and contiguity checks. The grouping key is
# exact integer arithmetic; the row_number window orders by the id itself.
# Scale note: the single global row_number is the textbook form; at real
# scale the same key is computed with windows.distributed_prefix_sum (the
# pk1/ks1 machinery) — here the audit output (top-10 longest islands)
# bounds what ships to the driver, not what shuffles.
# ---------------------------------------------------------------------------
@query(
    "gp1_gaps_islands_events",
    oracle="""
    WITH kept AS (
      SELECT event_id FROM events WHERE event_id % 97 <> 0
    ), grp AS (
      SELECT event_id,
             event_id - row_number() OVER (ORDER BY event_id) AS g
      FROM kept
    )
    SELECT CAST(min(event_id) AS BIGINT) AS island_start,
           CAST(max(event_id) AS BIGINT) AS island_end,
           CAST(count(*) AS BIGINT) AS island_len
    FROM grp GROUP BY g
    ORDER BY island_len DESC, island_start ASC LIMIT 10
    """,
)
def gp1_gaps_islands_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "events").filter(F.col("event_id") % 97 != 0)
    w = Window.orderBy("event_id")
    grp = e.select(
        "event_id", (F.col("event_id") - F.row_number().over(w)).alias("g")
    )
    return (
        grp.groupBy("g")
        .agg(
            F.min("event_id").cast("bigint").alias("island_start"),
            F.max("event_id").cast("bigint").alias("island_end"),
            F.count(F.lit(1)).cast("bigint").alias("island_len"),
        )
        .drop("g")
        .orderBy(F.col("island_len").desc(), F.col("island_start").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# WQ1 — distribution-rank window functions (percent_rank + cume_dist) of
# order totals within priority: the relative-standing statistics the rank/
# ntile family (w1/nt1) does not cover. Ranks run on integer cents (exact
# ties), the emitted fractions divide two integers (round 6), and the
# output is bounded to each priority's top-5 by percent_rank with cents as
# tie-break. Scale: one window partitioned by priority, top-k via
# WindowGroupLimit pushdown (tk1 lesson).
# ---------------------------------------------------------------------------
@query(
    "wq1_rank_distribution_orders",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority AS priority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             round(percent_rank() OVER (PARTITION BY o_orderpriority
                                        ORDER BY CAST(round(o_totalprice * 100) AS BIGINT)), 6) AS pr,
             round(cume_dist() OVER (PARTITION BY o_orderpriority
                                     ORDER BY CAST(round(o_totalprice * 100) AS BIGINT)), 6) AS cd,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
                                         o_orderkey ASC) AS rk
      FROM orders
    )
    SELECT priority, cents, pr, cd FROM ranked WHERE rk <= 5
    """,
)
def wq1_rank_distribution_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    w_asc = Window.partitionBy("priority").orderBy(F.col("cents").asc())
    w_top = Window.partitionBy("priority").orderBy(
        F.col("cents").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select(
            "priority",
            "cents",
            F.round(F.percent_rank().over(w_asc), 6).alias("pr"),
            F.round(F.cume_dist().over(w_asc), 6).alias("cd"),
            F.row_number().over(w_top).alias("__rk"),
        )
        .filter(F.col("__rk") <= 5)
        .select("priority", "cents", "pr", "cd")
    )


# ---------------------------------------------------------------------------
# AT1 — last-touch revenue attribution: each purchase's value (cents)
# credits the user's most recent PRECEDING non-purchase event type — the
# marketing-channel attribution shape. One per-user window with
# last(..., ignorenulls) over the preceding frame (the ts2 IGNORE NULLS
# bridge); purchases with no preceding touch attribute to 'direct'.
# Exact integer cents; ties in ts broken by event_id.
# ---------------------------------------------------------------------------
@query(
    "at1_last_touch_attribution_events",
    oracle="""
    WITH seq AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      FROM events WHERE user_id IS NOT NULL
    )
    SELECT coalesce(touch, 'direct') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM seq WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def at1_last_touch_attribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = e.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w).alias("touch"),
    )
    return (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("touch"), F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# HQ1 — mergeable histogram-quantile rollup: per-day fixed-width bin
# counts of order totals (the deterministic cousin of a t-digest) merged
# into weekly sketches, from which the median is read off the cumulative
# bin counts. This is the quantile half of the mergeable-sketch story hs1
# tells for distinct counts: daily partials are |bins|-sized, merging is
# an associative count-sum (groupBy week+bin), and the final quantile
# read is a window over ≤|bins| rows per week — yesterday's sketch never
# re-scans yesterday's orders. Bin width $100 on exact integer cents, so
# both engines bin identically; the estimate reported is the bin's lower
# bound in whole dollars (deterministic, resolution = the bin width).
# ---------------------------------------------------------------------------
@query(
    "hq1_histogram_median_rollup_orders",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
             CAST(floor(CAST(round(o_totalprice * 100) AS BIGINT) / 10000)
                  AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1, 2
    ), cum AS (
      SELECT wk, bin, cnt,
             sum(cnt) OVER (PARTITION BY wk ORDER BY bin) AS cum,
             sum(cnt) OVER (PARTITION BY wk) AS total
      FROM daily
    )
    SELECT wk,
           CAST(min(CASE WHEN cum * 2 >= total THEN bin END) * 100 AS BIGINT)
             AS median_bin_dollars,
           CAST(max(total) AS BIGINT) AS n_orders
    FROM cum GROUP BY wk
    """,
)
def hq1_histogram_median_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    # Stage 1: per-DAY |bins|-sized partials (the persisted daily sketch).
    daily = o.groupBy(
        F.col("o_orderdate").alias("day"),
        F.floor(cents / 10000).cast("bigint").alias("bin"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    # Stage 2: merge daily sketches into weekly ones — an associative
    # count-sum over |bins|-sized rows, never re-scanning the orders.
    weekly = daily.groupBy(
        F.date_trunc("week", F.col("day")).cast("date").alias("wk"),
        F.col("bin"),
    ).agg(F.sum("cnt").cast("bigint").alias("cnt"))
    w_cum = Window.partitionBy("wk").orderBy("bin")
    w_tot = Window.partitionBy("wk")
    cum = weekly.select(
        "wk",
        "bin",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_tot).alias("total"),
    )
    return cum.groupBy("wk").agg(
        (
            F.min(F.when(F.col("cum") * 2 >= F.col("total"), F.col("bin"))) * 100
        )
        .cast("bigint")
        .alias("median_bin_dollars"),
        F.max("total").cast("bigint").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# IN1 — per-user LINEAR TIME-INTERPOLATION of missing values: the numeric
# complement to ts2's ffill/bfill — each interior null draws the line
# between its nearest non-null neighbors, weighted by actual event-time
# position (epoch micros as exact integers, so both engines compute the
# same IEEE doubles). Leading/trailing nulls are unfillable and counted,
# not invented. Two frame-bounded windows per user (preceding last +
# following first, IGNORE NULLS); equal-timestamp neighbors fall back to
# the midpoint rather than dividing by zero (ANSI mode makes that an
# error, not a NaN). Output is an order-free integer aggregate: each
# interpolated value rounds to cents BEFORE the sum, so the total is
# permutation-invariant across partitions.
# ---------------------------------------------------------------------------
@query(
    "in1_linear_interpolate_events",
    oracle="""
    WITH seq AS (
      SELECT event_type, value,
             epoch_us(ts) AS t,
             last_value(value IGNORE NULLS) OVER w_prev AS pv,
             last_value(CASE WHEN value IS NOT NULL THEN epoch_us(ts) END
                        IGNORE NULLS) OVER w_prev AS pt,
             first_value(value IGNORE NULLS) OVER w_next AS nv,
             first_value(CASE WHEN value IS NOT NULL THEN epoch_us(ts) END
                         IGNORE NULLS) OVER w_next AS nt
      FROM events WHERE user_id IS NOT NULL
      WINDOW
        w_prev AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        w_next AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ), interp AS (
      SELECT event_type,
             CASE WHEN value IS NULL AND pv IS NOT NULL AND nv IS NOT NULL
                  THEN CASE WHEN nt = pt THEN (pv + nv) / 2.0
                            ELSE pv + (nv - pv) * (CAST(t - pt AS DOUBLE)
                                                   / CAST(nt - pt AS DOUBLE))
                       END
             END AS iv,
             (value IS NULL AND (pv IS NULL OR nv IS NULL)) AS unfillable
      FROM seq
    )
    SELECT event_type,
           CAST(count(iv) AS BIGINT) AS n_interpolated,
           CAST(sum(CAST(round(iv * 100) AS BIGINT)) AS BIGINT) AS interp_cents,
           CAST(sum(CASE WHEN unfillable THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unfillable
    FROM interp GROUP BY event_type
    """,
)
def in1_linear_interpolate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    t = F.unix_micros(F.col("ts"))
    t_nn = F.when(F.col("value").isNotNull(), t)
    seq = e.select(
        "event_type",
        "value",
        t.alias("t"),
        F.last("value", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(t_nn, ignorenulls=True).over(w_prev).alias("pt"),
        F.first("value", ignorenulls=True).over(w_next).alias("nv"),
        F.first(t_nn, ignorenulls=True).over(w_next).alias("nt"),
    )
    both = F.col("value").isNull() & F.col("pv").isNotNull() & F.col("nv").isNotNull()
    iv = F.when(
        both,
        F.when(F.col("nt") == F.col("pt"), (F.col("pv") + F.col("nv")) / 2.0).otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (
                (F.col("t") - F.col("pt")).cast("double")
                / (F.col("nt") - F.col("pt")).cast("double")
            )
        ),
    )
    unfillable = F.col("value").isNull() & (
        F.col("pv").isNull() | F.col("nv").isNull()
    )
    return (
        seq.select("event_type", iv.alias("iv"), unfillable.alias("unfillable"))
        .groupBy("event_type")
        .agg(
            F.count("iv").cast("bigint").alias("n_interpolated"),
            F.sum(F.round(F.col("iv") * 100).cast("bigint"))
            .cast("bigint")
            .alias("interp_cents"),
            F.sum(F.when(F.col("unfillable"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unfillable"),
        )
    )


# ---------------------------------------------------------------------------
# OH1 — OHLC bar aggregation (open/high/low/close per event_type × hour):
# the finance/telemetry candlestick shape, and the min_by/max_by ("first
# and last by time, exactly") aggregate family the window tier doesn't
# cover — one hash aggregate, no window, no second shuffle. Open/close
# need a TOTAL order to be deterministic under ties, and both engines'
# argmin aggregates take only scalar keys, so the order key is a
# zero-padded epoch-micros‖event_id string (lexicographic == numeric,
# collision-free because event_id is unique). All prices are exact
# integer cents.
# ---------------------------------------------------------------------------
@query(
    "oh1_ohlc_hourly_events",
    oracle="""
    SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
           arg_min(cents, k) AS open_cents,
           CAST(max(cents) AS BIGINT) AS high_cents,
           CAST(min(cents) AS BIGINT) AS low_cents,
           arg_max(cents, k) AS close_cents,
           CAST(count(*) AS BIGINT) AS n_ticks
    FROM (
      SELECT event_type, ts,
             CAST(round(value * 100) AS BIGINT) AS cents,
             lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
               || lpad(CAST(event_id AS VARCHAR), 12, '0') AS k
      FROM events WHERE value IS NOT NULL
    )
    GROUP BY 1, 2
    """,
)
def oh1_ohlc_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("bigint")
    k = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        e.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("hr"),
            cents.alias("cents"),
            k.alias("k"),
        )
        .groupBy("event_type", "hr")
        .agg(
            F.min_by("cents", "k").alias("open_cents"),
            F.max("cents").cast("bigint").alias("high_cents"),
            F.min("cents").cast("bigint").alias("low_cents"),
            F.max_by("cents", "k").alias("close_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
        )
    )


# ---------------------------------------------------------------------------
# PIT1 — point-in-time (SCD2) dimension lookup: the probe-side complement to
# cd2 (which BUILDS the versioned dim). The dim here is derived in-query:
# each customer's order dates partition time into half-open versions
# [valid_from, next_from) carrying the priority of that date's latest order
# (max_by o_orderkey — deterministic under same-date ties). Every lineitem
# then resolves the version valid at its SHIP date. The join is an EQUI join
# on custkey with the interval predicate as a residual filter — NOT a range
# join: versions-per-key is small (≈ orders per customer), so the bounded
# fan-out-then-filter is the standard SCD2 probe shape and shuffles only on
# the key. At 100 TB the dim stays |orders|-sized and the equi-shuffle
# dominates; no pair explosion is possible beyond the per-key version count.
# ---------------------------------------------------------------------------
@query(
    "pit1_point_in_time_priority",
    oracle="""
    WITH v0 AS (
      SELECT o_custkey, o_orderdate,
             arg_max(o_orderpriority, o_orderkey) AS prio
      FROM orders GROUP BY 1, 2
    ), dim AS (
      SELECT o_custkey, o_orderdate AS valid_from,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate) AS valid_until,
             prio
      FROM v0
    ), fact AS (
      SELECT o_custkey AS custkey, l_shipdate AS ship_ts,
             CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
               AS rev_cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT prio AS priority_at_ship,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(rev_cents) AS BIGINT) AS revenue_cents
    FROM fact JOIN dim ON custkey = o_custkey
      AND ship_ts >= valid_from
      AND (valid_until IS NULL OR ship_ts < valid_until)
    GROUP BY 1
    """,
)
def pit1_point_in_time_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    v0 = o.groupBy("o_custkey", "o_orderdate").agg(
        F.max_by("o_orderpriority", "o_orderkey").alias("prio")
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    dim = v0.select(
        "o_custkey",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_until"),
        "prio",
    )
    fact = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("custkey"),
        F.col("l_shipdate").alias("ship_ts"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("bigint")
        .alias("rev_cents"),
    )
    joined = fact.join(
        dim,
        (fact.custkey == dim.o_custkey)
        & (fact.ship_ts >= dim.valid_from)
        & (dim.valid_until.isNull() | (fact.ship_ts < dim.valid_until)),
    )
    return joined.groupBy(F.col("prio").alias("priority_at_ship")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("rev_cents").cast("bigint").alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# AL1 — largest-remainder proportional allocation: distribute each order's
# header total across its lineitems proportionally to quantity such that the
# allocated cents SUM EXACTLY to the header total (the invoice/ledger
# reconciliation shape — naive pro-rata rounding drifts by ±n/2 cents per
# order and fails audit). Everything is exact int64: base share =
# floor(total*qty/sumq), the per-order shortfall R = total − Σbase cents go
# to the R rows with the largest integer remainder (total*qty mod sumq),
# ties broken by line number. total*qty ≤ ~5.5e7 × 50 — int64-safe through
# sf100+ (ANSI mode would make any overflow a hard error, not a wrap).
# Three windows over the same l_orderkey partition → ONE shuffle, one sort.
# ---------------------------------------------------------------------------
@query(
    "al1_allocate_order_totals",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, l_linenumber, l_returnflag,
             CAST(round(l_quantity) AS BIGINT) AS qty,
             (SELECT CAST(round(o.o_totalprice * 100) AS BIGINT)
              FROM orders o WHERE o.o_orderkey = l_orderkey) AS total_cents
      FROM lineitem
    ), shares AS (
      SELECT l_returnflag,
             total_cents * qty AS num,
             sum(qty) OVER (PARTITION BY l_orderkey) AS sumq,
             l_orderkey, l_linenumber, total_cents
      FROM li
    ), based AS (
      SELECT l_returnflag, l_orderkey, total_cents,
             num // sumq AS base,
             num % sumq AS rem,
             l_linenumber
      FROM shares
    ), ranked AS (
      SELECT l_returnflag,
             base,
             total_cents - sum(base) OVER (PARTITION BY l_orderkey) AS shortfall,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY rem DESC, l_linenumber) AS rn
      FROM based
    )
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(base + CASE WHEN rn <= shortfall THEN 1 ELSE 0 END)
                AS BIGINT) AS alloc_cents
    FROM ranked GROUP BY 1
    """,
)
def al1_allocate_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("total_cents"),
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round(F.col("l_quantity")).cast("bigint").alias("qty"),
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "qty", "total_cents"
    )
    w_ord = Window.partitionBy("l_orderkey")
    num = F.col("total_cents") * F.col("qty")
    shares = j.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        "total_cents",
        num.alias("num"),
        F.sum("qty").over(w_ord).alias("sumq"),
    )
    based = shares.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        "total_cents",
        # `div` is exact int64 division — float `/`-then-cast can mis-floor
        # when the true quotient rounds up to the next integer in double.
        F.expr("num div sumq").alias("base"),
        (F.col("num") % F.col("sumq")).alias("rem"),
    )
    w_rank = Window.partitionBy("l_orderkey").orderBy(
        F.col("rem").desc(), F.col("l_linenumber").asc()
    )
    ranked = based.select(
        "l_returnflag",
        "base",
        (F.col("total_cents") - F.sum("base").over(w_ord)).alias("shortfall"),
        F.row_number().over(w_rank).alias("rn"),
    )
    alloc = F.col("base") + F.when(F.col("rn") <= F.col("shortfall"), 1).otherwise(0)
    return ranked.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(alloc).cast("bigint").alias("alloc_cents"),
    )


# ---------------------------------------------------------------------------
# WM1 — exact WEIGHTED median: the weighted complement of qt1's per-group
# exact quantiles — each price counts with its quantity weight (the "median
# unit economics" shape; percentile_cont can't take weights in either
# engine). Two-level reduction keeps the window small: first aggregate to
# distinct (flag, cents) with summed weight — collapsing ties also makes
# the answer independent of intra-value row order — then one cumulative
# window over the |distinct-values| frame picks the least value whose
# cumulative weight reaches half the total. All arithmetic is int64; the
# "2*cum >= total" form avoids any division. Scale: the window input is
# |distinct prices per flag|, not |lineitem| — the raw table is reduced by
# a hash aggregate before the only sort.
# ---------------------------------------------------------------------------
@query(
    "wm1_weighted_median_price",
    oracle="""
    WITH byval AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2
    ), cum AS (
      SELECT l_returnflag, cents,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents) AS cw,
             sum(w) OVER (PARTITION BY l_returnflag) AS total
      FROM byval
    )
    SELECT l_returnflag,
           CAST(min(CASE WHEN cw * 2 >= total THEN cents END) AS BIGINT)
             AS weighted_median_cents,
           CAST(max(total) AS BIGINT) AS total_weight
    FROM cum GROUP BY 1
    """,
)
def wm1_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")
    byval = li.groupBy(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    ).agg(F.sum(F.round(F.col("l_quantity")).cast("bigint")).cast("bigint").alias("w"))
    w_cum = Window.partitionBy("l_returnflag").orderBy("cents")
    w_tot = Window.partitionBy("l_returnflag")
    cum = byval.select(
        "l_returnflag",
        "cents",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_tot).alias("total"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.min(F.when(F.col("cw") * 2 >= F.col("total"), F.col("cents")))
        .cast("bigint")
        .alias("weighted_median_cents"),
        F.max("total").cast("bigint").alias("total_weight"),
    )


# ---------------------------------------------------------------------------
# GD1 — golden-record survivorship (MDM consolidation): collapse each user's
# event history to one record where each field independently keeps its best
# surviving value under a priority-then-recency rule — 'purchase' events
# outrank all others as a value source, and within a priority tier the
# latest (ts, event_id) wins; NULL values never win (per-field null-skip is
# what separates survivorship from a plain argmax). The rule compiles to a
# single scalar sort key — priority digit ‖ zero-padded epoch-micros ‖
# zero-padded event_id (lexicographic == (priority, time, id) by
# construction, collision-free since event_id is unique) — fed to
# max_by/arg_max with a NULL key for non-surviving rows, which both engines
# skip. ONE hash aggregate over user_id, no window, no join, no second
# shuffle; at 100 TB this is a straight map-side-combine reduction.
# ---------------------------------------------------------------------------
@query(
    "gd1_golden_record_users",
    oracle="""
    SELECT user_id,
           arg_max(CAST(round(value * 100) AS BIGINT),
                   CASE WHEN value IS NOT NULL THEN k END)
             AS golden_value_cents,
           arg_max(event_type, CASE WHEN value IS NOT NULL THEN k END)
             AS golden_value_source,
           CAST(min(ts) AS TIMESTAMP) AS first_seen,
           CAST(max(ts) AS TIMESTAMP) AS last_seen,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(count(*) AS BIGINT) AS n_events
    FROM (
      SELECT user_id, value, ts, event_type,
             CASE WHEN event_type = 'purchase' THEN '1' ELSE '0' END
               || lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
               || lpad(CAST(event_id AS VARCHAR), 12, '0') AS k
      FROM events WHERE user_id IS NOT NULL
    )
    GROUP BY user_id
    """,
)
def gd1_golden_record_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    k = F.concat(
        F.when(F.col("event_type") == "purchase", F.lit("1")).otherwise(F.lit("0")),
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    k_nn = F.when(F.col("value").isNotNull(), k)
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        e.select("user_id", "ts", "event_type", cents.alias("cents"), k_nn.alias("k"))
        .groupBy("user_id")
        .agg(
            F.max_by("cents", "k").alias("golden_value_cents"),
            F.max_by("event_type", "k").alias("golden_value_source"),
            F.min("ts").alias("first_seen"),
            F.max("ts").alias("last_seen"),
            F.countDistinct("event_type").cast("bigint").alias("n_types"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# ABC1 — Pareto / ABC classification (inventory analytics): rank parts by
# revenue descending and bucket them by cumulative revenue share (A <= 80%,
# B <= 95%, C = tail). The global cumulative sum is the classic
# single-reducer trap — a plain ORDER BY window funnels every part through
# one task — so the Spark side runs windows.distributed_prefix_sums ordered
# by negative revenue (bucket partials + broadcast offsets: every stage
# |parts|-parallel). Tie order within equal revenues is engine-arbitrary,
# but tied parts contribute IDENTICAL values to the running sum, so the
# cumulative multiset — and therefore every class-level aggregate emitted
# here — is tie-order invariant; the oracle can use a plain deterministic
# window. Class boundaries are exact integer comparisons (cum*5 <= total*4,
# cum*20 <= total*19): no float share ever decides a boundary. int64
# headroom: total ~1.2e13 cents at sf1, *20 overflows only past ~sf40000
# (ANSI mode would make that a hard error, not a wrap).
# ---------------------------------------------------------------------------
@query(
    "abc1_pareto_class_parts",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem GROUP BY 1
    ), cum AS (
      SELECT rev_cents,
             sum(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey)
               AS cum_cents,
             sum(rev_cents) OVER () AS total
      FROM rev
    )
    SELECT CASE WHEN cum_cents * 5 <= total * 4 THEN 'A'
                WHEN cum_cents * 20 <= total * 19 THEN 'B'
                ELSE 'C' END AS abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev_cents) AS BIGINT) AS class_rev_cents,
           round(CAST(sum(rev_cents) AS DOUBLE) / max(total), 6) AS rev_share
    FROM cum GROUP BY 1
    """,
)
def abc1_pareto_class_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("bigint")
        ).cast("bigint").alias("rev_cents")
    )
    ordered = rev.withColumn("__neg", -F.col("rev_cents"))
    cum = windows.distributed_prefix_sums(
        ordered, ["rev_cents"], "__neg", aliases=["cum_cents"], inclusive=True
    )
    total = rev.agg(F.sum("rev_cents").cast("bigint").alias("__total"))
    cls = (
        F.when(F.col("cum_cents") * 5 <= F.col("__total") * 4, "A")
        .when(F.col("cum_cents") * 20 <= F.col("__total") * 19, "B")
        .otherwise("C")
    )
    return (
        cum.crossJoin(F.broadcast(total))
        .select(cls.alias("abc_class"), "rev_cents", "__total")
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("rev_cents").cast("bigint").alias("class_rev_cents"),
            F.round(
                F.sum("rev_cents").cast("double") / F.max("__total"), 6
            ).alias("rev_share"),
        )
    )


# ---------------------------------------------------------------------------
# MB1 — market-basket association rules at the brand level: for every brand
# pair co-occurring in an order, support / confidence / lift from exact
# integer counts. Baskets are DISTINCT (order, brand) sets, so the
# within-order self-join fan-out is bounded by |brands| (25), not by line
# count — the a-priori trick of mining a bounded category vocabulary
# instead of the raw item space, which is what keeps this shape alive at
# 100 TB (the pair shuffle carries |orders| x O(brands-per-order^2) rows,
# never |lineitem|^2). Brand marginals (25 rows) and the basket total
# (1 row) join back as broadcasts. Lift/confidence are double divisions of
# identical exact integers — IEEE-identical cross-engine; ranking uses the
# raw integer pair count with the pair name as tie-break, so no float ever
# orders the output.
# ---------------------------------------------------------------------------
@query(
    "mb1_brand_basket_lift",
    oracle="""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ), n AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM basket
    ), marg AS (
      SELECT p_brand, CAST(count(*) AS BIGINT) AS c FROM basket GROUP BY 1
    ), pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             CAST(count(*) AS BIGINT) AS n_pair
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, n_pair,
           round(CAST(n_pair AS DOUBLE) / n.n_orders, 6) AS support,
           round(CAST(n_pair AS DOUBLE) / ma.c, 6) AS confidence,
           round(CAST(n_pair AS DOUBLE) * n.n_orders / (ma.c * mb.c), 6)
             AS lift
    FROM pairs, n
    JOIN marg ma ON ma.p_brand = brand_a
    JOIN marg mb ON mb.p_brand = brand_b
    ORDER BY n_pair DESC, brand_a, brand_b
    LIMIT 15
    """,
)
def mb1_brand_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # r13-opt: the basket "self-join on l_orderkey" is gone — per-order
    # brand SETS come from one groupBy(collect_set) (fusing the old
    # .distinct() shuffle into the same aggregation), and the a<b pairs
    # are generated INSIDE the sorted array (bounded by |brands-per-order|
    # <= 25), so the pair stage shuffles |orders| set rows once instead of
    # shuffling the basket twice and joining (guide §2.4 "remove shuffles
    # outright"). Marginals/total are countDistinct forms of the same
    # numbers — identical integers.
    basket_src = li.join(p, li.l_partkey == p.p_partkey).select(
        "l_orderkey", "p_brand"
    )
    n = basket_src.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    marg = basket_src.groupBy("p_brand").agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("c")
    )
    sets = basket_src.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("p_brand")).alias("bs")
    )
    combos = F.flatten(
        F.transform(
            F.col("bs"),
            lambda x, i: F.transform(
                F.slice(F.col("bs"), i + F.lit(2), F.size(F.col("bs"))),
                lambda y: F.struct(x.alias("brand_a"), y.alias("brand_b")),
            ),
        )
    )
    pairs = (
        sets.select(F.explode(combos).alias("pr"))
        .select("pr.brand_a", "pr.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pair"))
    )
    ma = marg.select(F.col("p_brand").alias("__ba"), F.col("c").alias("__ca"))
    mb = marg.select(F.col("p_brand").alias("__bb"), F.col("c").alias("__cb"))
    scored = (
        pairs.crossJoin(F.broadcast(n))
        .join(F.broadcast(ma), F.col("brand_a") == F.col("__ba"))
        .join(F.broadcast(mb), F.col("brand_b") == F.col("__bb"))
        .select(
            "brand_a", "brand_b", "n_pair",
            F.round(F.col("n_pair").cast("double") / F.col("n_orders"), 6)
            .alias("support"),
            F.round(F.col("n_pair").cast("double") / F.col("__ca"), 6)
            .alias("confidence"),
            F.round(
                F.col("n_pair").cast("double") * F.col("n_orders")
                / (F.col("__ca") * F.col("__cb")), 6
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("n_pair").desc(), F.col("brand_a"), F.col("brand_b")
    ).limit(15)


# ---------------------------------------------------------------------------
# EN1 — Shannon entropy of each user's event-type distribution: the
# behavioral-diversity score (low entropy = bot-like single-action users,
# high = diverse engagement) and the same computation a training-data
# pipeline runs over source/label distributions to audit dataset balance.
# Two hash aggregates — (user, type) counts, then per-user Σ and the
# -Σ p·ln(p) fold — no window, no join; the shuffle carries count partials
# only. Each p = n_i/n divides exact integers, so every ln() term is
# IEEE-identical cross-engine; the per-user sum runs over ≤|event types|
# terms, so summation-order noise is ~1e-15 relative — far below the 6-dp
# rounding. Scale: map-side combine on (user, type); output is |users|.
# ---------------------------------------------------------------------------
@query(
    "en1_user_entropy_events",
    oracle="""
    WITH ut AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events WHERE user_id IS NOT NULL
      GROUP BY 1, 2
    ), p AS (
      SELECT user_id, n,
             CAST(n AS DOUBLE)
               / sum(n) OVER (PARTITION BY user_id) AS frac
      FROM ut
    )
    SELECT user_id,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_types,
           round(-sum(frac * ln(frac)), 6) AS entropy
    FROM p GROUP BY user_id
    """,
)
def en1_user_entropy_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    ut = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w_u = Window.partitionBy("user_id")
    p = F.col("n").cast("double") / F.sum("n").over(w_u)
    return (
        ut.select("user_id", "n", (p * F.log(p)).alias("__plogp"))
        .groupBy("user_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.round(-F.sum("__plogp"), 6).alias("entropy"),
        )
    )


# ---------------------------------------------------------------------------
# BF1 — Benford first-digit audit of order totals: the fraud/forensics
# screen that flags fabricated numeric columns by comparing the leading
# significant digit distribution against log10(1 + 1/d). The first digit is
# taken from the STRING form of exact integer cents — never
# floor(x/10^floor(log10 x)), whose float log flips at powers of ten.
# Expected frequencies are ln(1+1/d)/ln(10) computed from the digit in both
# engines (identical doubles); the chi-square contribution per digit is a
# double function of exact integer counts. One hash aggregate over 9 groups;
# the scan-stage digit extraction is a codegen substring. Scale: trivially
# map-side combined.
# ---------------------------------------------------------------------------
@query(
    "bf1_benford_order_totals",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ), c AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(count(*)) OVER () AS BIGINT) AS total
      FROM d GROUP BY 1
    )
    SELECT digit, n,
           round(CAST(n AS DOUBLE) / total, 6) AS obs_freq,
           round(ln(1 + 1.0 / digit) / ln(10), 6) AS exp_freq,
           round(pow(CAST(n AS DOUBLE) / total
                     - ln(1 + 1.0 / digit) / ln(10), 2)
                 / (ln(1 + 1.0 / digit) / ln(10)) * total, 6) AS chi2_term
    FROM c
    """,
)
def bf1_benford_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    c = (
        o.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .withColumn(
            "total", F.sum("n").over(Window.partitionBy()).cast("bigint")
        )
    )
    exp = F.log(1 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    obs = F.col("n").cast("double") / F.col("total")
    return c.select(
        "digit",
        "n",
        F.round(obs, 6).alias("obs_freq"),
        F.round(exp, 6).alias("exp_freq"),
        F.round(F.pow(obs - exp, 2) / exp * F.col("total"), 6).alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# GI1 — Gini coefficient of customer revenue concentration (the Lorenz-curve
# inequality measure behind "what share of revenue do the top customers
# hold"). Uses the rank identity G = Σ(2r − n − 1)·x / (n·Σx) with r the
# 1-based rank of x ascending. The global rank is a distributed prefix
# COUNT (windows.distributed_prefix_sums over a literal 1) — no
# single-reducer ORDER BY window anywhere. Tie order among equal revenues
# is engine-arbitrary, but permuting ranks within a tied group leaves
# Σ(2r)x unchanged (2x·Σr over the same rank set), so the statistic is
# tie-order invariant and the oracle can rank with a deterministic window.
# The numerator Σ(2r−n−1)x stays exact int64 (~1e16 at sf1, headroom to
# ~sf100; ANSI makes any overflow a hard error); the final division runs in
# double. Scale: one groupBy + the prefix-sum's bucket pass; output 1 row.
# ---------------------------------------------------------------------------
@query(
    "gi1_gini_customer_revenue",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT cents,
             CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT)
               AS r,
             CAST(count(*) OVER () AS BIGINT) AS n,
             CAST(sum(cents) OVER () AS BIGINT) AS total
      FROM rev
    )
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           CAST(max(total) AS BIGINT) AS total_cents,
           round(CAST(sum((2 * r - n - 1) * cents) AS DOUBLE)
                 / (CAST(max(n) AS DOUBLE) * max(total)), 6) AS gini
    FROM ranked
    """,
)
def gi1_gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    ).withColumn("__one", F.lit(1).cast("bigint"))
    ranked = windows.distributed_prefix_sums(
        rev, ["__one"], "cents", aliases=["r"], inclusive=True
    )
    totals = rev.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("cents").cast("bigint").alias("__total"),
    )
    term = (2 * F.col("r") - F.col("__n") - 1) * F.col("cents")
    return (
        ranked.crossJoin(F.broadcast(totals))
        .select(term.alias("__term"), "__n", "__total")
        .agg(
            F.max("__n").cast("bigint").alias("n_customers"),
            F.max("__total").cast("bigint").alias("total_cents"),
            F.round(
                F.sum("__term").cast("double")
                / (F.max("__n").cast("double") * F.max("__total")), 6
            ).alias("gini"),
        )
    )


# ---------------------------------------------------------------------------
# DS1 — calendar-spine densification: materialize EVERY day between the
# corpus min and max event date (from the data, no wall clock), left-join
# daily revenue onto the spine so silent zero-activity days become explicit
# rows, then roll up per month — the "time spine" every BI/forecast layer
# needs because a groupBy over raw events simply omits empty days (a8/ts1
# interpolate over hours that EXIST; this query manufactures the missing
# ones). The spine derives from a 1-row min/max aggregate exploded through
# sequence() — |days| rows, broadcast to the daily-aggregate join. Scale:
# the only big shuffle is the daily groupBy (map-side combined); the spine
# side is calendar-bounded (36.5k rows per century) and broadcast.
# ---------------------------------------------------------------------------
@query(
    "ds1_calendar_spine_events",
    oracle="""
    WITH bounds AS (
      SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi
      FROM events WHERE ts IS NOT NULL
    ), spine AS (
      SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                         CAST(hi AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ), daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS n
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    )
    SELECT CAST(date_trunc('month', spine.day) AS DATE) AS month,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN daily.day IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_empty_days,
           CAST(sum(coalesce(daily.n, 0)) AS BIGINT) AS n_events,
           CAST(sum(coalesce(daily.cents, 0)) AS BIGINT) AS revenue_cents
    FROM spine LEFT JOIN daily ON spine.day = daily.day
    GROUP BY 1
    """,
)
def ds1_calendar_spine_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    bounds = e.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    d = daily.withColumnRenamed("day", "__dday")
    joined = spine.join(d, spine.day == d.__dday, "left")
    return joined.groupBy(
        F.date_trunc("month", F.col("day")).cast("date").alias("month")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.when(F.col("__dday").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_empty_days"),
        F.sum(F.coalesce(F.col("n"), F.lit(0))).cast("bigint").alias("n_events"),
        F.sum(F.coalesce(F.col("cents"), F.lit(0)))
        .cast("bigint")
        .alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# TZ1 — timezone-aware local-day aggregation: re-bucket UTC event time into
# America/New_York local days (the "daily revenue is wrong because the
# warehouse is UTC" fix every BI layer needs). The conversion is
# from_utc_timestamp — IANA tzdata rules, DST-correct — and the query also
# counts the rows whose LOCAL date differs from their UTC date (the
# day-boundary spill that motivates the op). DuckDB twin composes
# timezone('UTC', ·) → timezone('America/New_York', ·), the same
# interpret-then-render pair. Scale: the conversion is a scan-stage
# expression; one hash aggregate on local_date, map-side combined.
# ---------------------------------------------------------------------------
@query(
    "tz1_local_day_events",
    oracle="""
    WITH loc AS (
      SELECT CAST(CAST(timezone('America/New_York', timezone('UTC', ts))
                       AS TIMESTAMP) AS DATE) AS local_date,
             CAST(ts AS DATE) AS utc_date,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL
    )
    SELECT local_date,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN local_date <> utc_date THEN 1 ELSE 0 END)
                AS BIGINT) AS n_day_shifted,
           CAST(sum(coalesce(cents, 0)) AS BIGINT) AS revenue_cents
    FROM loc GROUP BY 1
    """,
)
def tz1_local_day_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    local_ts = F.from_utc_timestamp(F.col("ts"), "America/New_York")
    loc = e.select(
        local_ts.cast("date").alias("local_date"),
        F.col("ts").cast("date").alias("utc_date"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return loc.groupBy("local_date").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("local_date") != F.col("utc_date"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_day_shifted"),
        F.sum(F.coalesce(F.col("cents"), F.lit(0)))
        .cast("bigint")
        .alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# OL1 — ratio-to-report / percent-of-parent: each nation's revenue share of
# its region AND its region's share of the world, in one frame — the OLAP
# contribution primitive (Oracle RATIO_TO_REPORT, MDX percent-of-parent)
# that rollup (r1) totals don't directly give. Big work is one orders →
# customer equi join + hash aggregate to the (region, nation) grain; both
# share windows then run over that 25-row frame (the parent totals are
# window sums, not self-joins — no re-scan of the fact side). Shares are
# double divisions of exact integer cents.
# ---------------------------------------------------------------------------
@query(
    "ol1_ratio_to_report_revenue",
    oracle="""
    WITH rev AS (
      SELECT r_name AS region, n_name AS nation,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1, 2
    )
    SELECT region, nation, cents,
           round(CAST(cents AS DOUBLE)
                 / sum(cents) OVER (PARTITION BY region), 6)
             AS share_of_region,
           round(CAST(sum(cents) OVER (PARTITION BY region) AS DOUBLE)
                 / sum(cents) OVER (), 6) AS region_share_of_total
    FROM rev
    """,
)
def ol1_ratio_to_report_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w_r = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return rev.select(
        "region", "nation", "cents",
        F.round(F.col("cents").cast("double") / F.sum("cents").over(w_r), 6)
        .alias("share_of_region"),
        F.round(
            F.sum("cents").over(w_r).cast("double") / F.sum("cents").over(w_all),
            6,
        ).alias("region_share_of_total"),
    )


# ---------------------------------------------------------------------------
# SA1 — multiplicative seasonal index by hour of day: mean value per
# (event_type, hour) divided by the event type's all-hours mean — the
# seasonality table a forecaster multiplies a base rate by (and the
# companion to ac1, which only DETECTS the cycle). Means are ratios of
# exact integer sums, so the index divides two IEEE-identical doubles; the
# type-level parent aggregates come from window sums over the 24-row-per-
# type post-agg frame, never a second event scan. Scale: one map-side-
# combined hash aggregate on (type, hour); everything after is |types|×24.
# ---------------------------------------------------------------------------
@query(
    "sa1_seasonal_index_events",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
             CAST(count(value) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT event_type, hr, n,
           round((CAST(cents AS DOUBLE) / n)
                 / (CAST(sum(cents) OVER (PARTITION BY event_type) AS DOUBLE)
                    / sum(n) OVER (PARTITION BY event_type)), 6)
             AS seasonal_idx
    FROM hourly WHERE n > 0
    """,
)
def sa1_seasonal_index_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hourly = e.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hr")
    ).agg(
        F.count("value").cast("bigint").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    ).filter(F.col("n") > 0)
    w_t = Window.partitionBy("event_type")
    hourly_mean = F.col("cents").cast("double") / F.col("n")
    type_mean = F.sum("cents").over(w_t).cast("double") / F.sum("n").over(w_t)
    return hourly.select(
        "event_type", "hr", "n",
        F.round(hourly_mean / type_mean, 6).alias("seasonal_idx"),
    )


# ---------------------------------------------------------------------------
# WT1 — Welch two-sample t-test: weekend vs weekday value means per event
# type, the unequal-variance significance test that completes the drift
# family (ks1 = distribution shape, ct1 = categorical independence, wt1 =
# mean difference). Group moments (n, Σx, Σx²) are exact int64 on integer
# cents — Σx² headroom ~sf500 under ANSI — and the variance uses the
# computational form (Σx² − (Σx)²/n)/(n−1) with Σx widened to DOUBLE
# BEFORE squaring (the int64 square would overflow at sf1; the double
# formula is written identically in both engines, so the t statistic is
# IEEE-identical). Weekday split uses ISO day-of-week (Mon=1): Spark
# weekday()+1 == DuckDB isodow — never locale-dependent dayofweek(). One
# hash aggregate over (type, is_weekend); the pivot to side-by-side
# columns is a 2-row-per-type conditional re-aggregate.
# ---------------------------------------------------------------------------
@query(
    "wt1_welch_weekend_events",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END AS we,
             CAST(count(value) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
             CAST(sum(CAST(round(value * 100) AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sq
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      GROUP BY 1, 2
    ), wide AS (
      SELECT event_type,
             max(CASE WHEN we = 1 THEN n END) AS n1,
             max(CASE WHEN we = 1 THEN s END) AS s1,
             max(CASE WHEN we = 1 THEN sq END) AS q1,
             max(CASE WHEN we = 0 THEN n END) AS n0,
             max(CASE WHEN we = 0 THEN s END) AS s0,
             max(CASE WHEN we = 0 THEN sq END) AS q0
      FROM g GROUP BY 1
    )
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n_weekend,
           CAST(n0 AS BIGINT) AS n_weekday,
           round(CAST(s1 AS DOUBLE) / n1, 4) AS mean_weekend,
           round(CAST(s0 AS DOUBLE) / n0, 4) AS mean_weekday,
           round((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
                 / sqrt(((q1 - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1
                        + ((q0 - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1))
                          / n0), 4) AS welch_t
    FROM wide WHERE n1 > 1 AND n0 > 1
    """,
)
def wt1_welch_weekend_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    we = F.when(F.weekday("ts") + 1 >= 6, 1).otherwise(0)
    g = e.select(
        "event_type", we.alias("we"), cents.alias("c")
    ).groupBy("event_type", "we").agg(
        F.count("c").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sq"),
    )

    def side(col, w):
        return F.max(F.when(F.col("we") == w, F.col(col)))

    wide = g.groupBy("event_type").agg(
        side("n", 1).alias("n1"), side("s", 1).alias("s1"),
        side("sq", 1).alias("q1"), side("n", 0).alias("n0"),
        side("s", 0).alias("s0"), side("sq", 0).alias("q0"),
    ).filter((F.col("n1") > 1) & (F.col("n0") > 1))
    m1 = F.col("s1").cast("double") / F.col("n1")
    m0 = F.col("s0").cast("double") / F.col("n0")
    v1 = (F.col("q1") - F.col("s1").cast("double") * F.col("s1") / F.col("n1")) / (
        F.col("n1") - 1
    )
    v0 = (F.col("q0") - F.col("s0").cast("double") * F.col("s0") / F.col("n0")) / (
        F.col("n0") - 1
    )
    return wide.select(
        "event_type",
        F.col("n1").cast("bigint").alias("n_weekend"),
        F.col("n0").cast("bigint").alias("n_weekday"),
        F.round(m1, 4).alias("mean_weekend"),
        F.round(m0, 4).alias("mean_weekday"),
        F.round(
            (m1 - m0) / F.sqrt(v1 / F.col("n1") + v0 / F.col("n0")), 4
        ).alias("welch_t"),
    )


# ---------------------------------------------------------------------------
# LJ1 — LATERAL correlated subquery with LIMIT (SQL:2016 lateral derived
# table): the two most recent orders of every BUILDING-segment customer,
# written exactly as an analyst would in DuckDB/Postgres. Spark 4
# DECORRELATES the lateral (verified in the plan: the per-customer LIMIT
# becomes a join + per-key order/limit, never a per-row re-execution of
# the inner query) — the point of registering the SQL surface is pinning
# that the declarative form gets the distributed plan, same argument as
# sub1's decorrelated Q17. Cents are exact integers; the lateral's ORDER
# BY is total (date DESC, orderkey), so row selection cannot flap.
# ---------------------------------------------------------------------------
@query(
    "lj1_lateral_top2_orders",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey,
           CAST(t.o_orderdate AS TIMESTAMP) AS o_orderdate,
           CAST(round(t.o_totalprice * 100) AS BIGINT) AS total_cents
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_orderdate, o_totalprice
      FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_orderdate DESC, o_orderkey
      LIMIT 2
    ) t
    WHERE c.c_mktsegment = 'BUILDING'
    """,
)
def lj1_lateral_top2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("lj1_customer")
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("lj1_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_orderdate,
               CAST(round(t.o_totalprice * 100) AS BIGINT) AS total_cents
        FROM lj1_customer c, LATERAL (
          SELECT o_orderkey, o_orderdate, o_totalprice
          FROM lj1_orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_orderdate DESC, o_orderkey
          LIMIT 2
        ) t
        WHERE c.c_mktsegment = 'BUILDING'
        """
    )
