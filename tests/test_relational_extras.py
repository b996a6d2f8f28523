"""Unit tests for the §2.6 carry-along operators (crosstab, grouping sets,
seeded sampling, approx distinct) and the §2.8 pandas escape hatch."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from agent_data_wrangler_spark.operators import aggregates, pivot
from agent_data_wrangler_spark.operators.pandas_ops import (
    grouped_agg_pandas_udf,
    grouped_transform,
    map_batches,
    scalar_pandas_udf,
)


def test_crosstab_counts(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", "y"), ("b", "y")], "k string, v string"
    )
    ct = pivot.crosstab(df, "k", "v")
    assert ct.columns == ["k_v", "x", "y"]
    rows = {r["k_v"]: (r["x"], r["y"]) for r in ct.collect()}
    assert rows == {"a": (2, 1), "b": (0, 1)}


def test_grouping_sets(spark):
    df = spark.createDataFrame([("a", "p", 1), ("a", "q", 2), ("b", "p", 3)], "k string, g string, v int")
    out = pivot.grouping_sets_agg(
        df, [["k"], []], ["k", "g"], [F.sum("v").cast("bigint").alias("s")]
    )
    rows = {(r.k, r.g): r.s for r in out.collect()}
    assert rows == {("a", None): 3, ("b", None): 3, (None, None): 6}


def test_seeded_sample_deterministic(spark, sf_dir):
    from agent_data_wrangler_spark.sources.readers import read_table

    o = read_table(spark, sf_dir, "orders")
    a = aggregates.seeded_sample(o, 0.2, seed=7).count()
    b = aggregates.seeded_sample(o, 0.2, seed=7).count()
    c = aggregates.seeded_sample(o, 0.2, seed=8).count()
    n = o.count()
    assert a == b  # same seed → identical draw
    assert abs(a - 0.2 * n) < 0.05 * n  # concentrates around fraction
    assert c != a or n < 50  # different seed → (almost surely) different draw


def test_approx_distinct_accuracy(spark, sf_dir):
    from agent_data_wrangler_spark.sources.readers import read_table

    o = read_table(spark, sf_dir, "orders")
    exact = o.select(F.countDistinct("o_custkey")).first()[0]
    approx = aggregates.approx_distinct(o, "o_custkey", rsd=0.05).first()[0]
    assert abs(approx - exact) <= max(3, 0.15 * exact)


def test_scalar_pandas_udf(spark):
    double_it = scalar_pandas_udf(lambda s: s * 2, "double")
    df = spark.createDataFrame([(1.0,), (2.5,)], "v double")
    out = sorted(r[0] for r in df.select(double_it("v")).collect())
    assert out == [2.0, 5.0]


def test_grouped_agg_pandas_udf(spark):
    geo_mean = grouped_agg_pandas_udf(
        lambda s: float((s.prod()) ** (1.0 / len(s))), "double"
    )
    df = spark.createDataFrame([("a", 2.0), ("a", 8.0), ("b", 3.0)], "k string, v double")
    rows = {r.k: r.g for r in df.groupBy("k").agg(geo_mean("v").alias("g")).collect()}
    assert rows["a"] == pytest.approx(4.0)
    assert rows["b"] == pytest.approx(3.0)


def test_grouped_agg_pandas_udf_is_not_deprecated(spark):
    """The UDF's eval type comes from type hints, not the deprecated
    PandasUDFType argument (which emits a UserWarning on construction)."""
    import warnings

    from pyspark.util import PythonEvalType

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        mean = grouped_agg_pandas_udf(lambda s: float(s.mean()), "double")
    assert mean.evalType == PythonEvalType.SQL_GROUPED_AGG_PANDAS_UDF


def test_grouped_transform_schema_and_values(spark):
    def demean(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()
        pdf["v"] = pdf["v"] - pdf["v"].mean()
        return pdf

    df = spark.createDataFrame([("a", 1.0), ("a", 3.0), ("b", 5.0)], "k string, v double")
    out = grouped_transform(df, ["k"], demean, "k string, v double")
    got = sorted((r.k, r.v) for r in out.collect())
    assert got == [("a", -1.0), ("a", 1.0), ("b", 0.0)]


def test_map_batches_streaming(spark):
    def add_len(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["n"] = pdf["s"].str.len()
            yield pdf

    df = spark.createDataFrame([("abc",), ("de",)], "s string")
    out = {r.s: r.n for r in map_batches(df, add_len, "s string, n int").collect()}
    assert out == {"abc": 3, "de": 2}


def test_udtf_tokenize(spark):
    from agent_data_wrangler_spark.operators.pandas_ops import make_udtf

    class Tokenize:
        def eval(self, text: str):
            for i, tok in enumerate(text.split()):
                yield (i, tok)

    tok_udtf = make_udtf(Tokenize, "pos int, tok string")
    spark.udtf.register("tokenize", tok_udtf)
    out = spark.sql("SELECT * FROM tokenize('a b c')").collect()
    assert [(r.pos, r.tok) for r in out] == [(0, "a"), (1, "b"), (2, "c")]


def test_salted_join_matches_plain_join(spark):
    from agent_data_wrangler_spark.operators.joins import salted_join

    left = spark.createDataFrame(
        [(k, i) for i in range(50) for k in ("hot", "cold")][:80], "k string, v int"
    )
    right = spark.createDataFrame([("hot", 1.5), ("cold", 2.5)], "k string, w double")
    plain = left.join(right, "k")
    salted = salted_join(left, right, "k", salt=4)
    assert salted.count() == plain.count()
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_two_phase_agg_matches_plain(spark):
    from pyspark.sql import functions as F

    from agent_data_wrangler_spark.operators.joins import two_phase_agg

    df = spark.createDataFrame(
        [("hot", float(i)) for i in range(100)] + [("cold", 1.0)], "k string, v double"
    )
    out = two_phase_agg(
        df, "k",
        {"n": (F.count, F.sum, "v"), "total": (F.sum, F.sum, "v"), "mx": (F.max, F.max, "v")},
        salt=4,
    )
    rows = {r.k: (r.n, r.total, r.mx) for r in out.collect()}
    assert rows["hot"] == (100, sum(range(100)), 99.0)
    assert rows["cold"] == (1, 1.0, 1.0)


def test_write_bucketed_join_has_no_shuffle(spark, tmp_path):
    from agent_data_wrangler_spark.sources.writers import write_bucketed

    import shutil

    df = spark.range(1000).selectExpr("id as k", "id * 2 as v")
    df2 = spark.range(1000).selectExpr("id as k", "id * 3 as w")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("bt_a", "bt_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # a fresh per-session metastore forgets the table but its managed
        # location survives on disk — remove it or saveAsTable refuses
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    write_bucketed(df, "bt_a", ["k"], num_buckets=4, sort_cols=["k"])
    write_bucketed(df2, "bt_b", ["k"], num_buckets=4, sort_cols=["k"])
    joined = spark.table("bt_a").join(spark.table("bt_b"), "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # co-bucketed tables join without an Exchange on either side
    assert "Exchange hashpartitioning" not in plan
    assert joined.count() == 1000


def test_equi_join_auto_broadcast_guard(spark):
    from agent_data_wrangler_spark.operators.joins import equi_join

    small = spark.range(100).toDF("k")
    big = spark.range(100000).selectExpr("id as k", "id * 2 as v")
    auto = equi_join(big, small, "k", broadcast_right="auto")
    assert "BroadcastHashJoin" in auto._jdf.queryExecution().executedPlan().toString()

    # with the threshold disabled the guard refuses the hint
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        guarded = equi_join(big, small, "k", broadcast_right="auto")
        plan = guarded._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan.split("AdaptiveSparkPlan")[0] or "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_salted_join_rejects_right_preserving_modes(spark):
    import pytest as _pytest

    from agent_data_wrangler_spark.operators.joins import salted_join

    left = spark.createDataFrame([("k", 1)], "k string, v int")
    right = spark.createDataFrame([("k", 2.0)], "k string, w double")
    for how in ("right", "full", "full_outer"):
        with _pytest.raises(ValueError):
            salted_join(left, right, "k", how=how)


def test_range_join_boundaries_and_plan(spark):
    from agent_data_wrangler_spark.operators.joins import range_join

    points = spark.createDataFrame(
        [(1, 0.0), (2, 5.0), (3, 10.0), (4, 15.0), (5, 99.0)], "id bigint, x double"
    )
    ivals = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 10.0, 20.0)], "name string, lo double, hi double"
    )
    j = range_join(points, ivals, "x", "lo", "hi")
    got = sorted((r.id, r.name) for r in j.collect())
    # half-open [lo, hi): x=10 joins b not a; x=99 matches nothing
    assert got == [(1, "a"), (2, "a"), (3, "b"), (4, "b")]

    # bucket smaller than the interval: explode covers every bucket, results
    # identical
    j2 = range_join(points, ivals, "x", "lo", "hi", bucket=3.0)
    assert sorted((r.id, r.name) for r in j2.collect()) == got

    # the scale contract: an equi hash join on buckets, never a nested loop
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_range_join_timestamps(spark):
    import datetime as dt

    from agent_data_wrangler_spark.operators.joins import range_join

    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-03 12:00:00")],
        "id bigint, ts string",
    ).select("id", F.to_timestamp("ts").alias("ts"))
    iv = spark.createDataFrame(
        [("d1", "2024-01-01 00:00:00", "2024-01-02 00:00:00"),
         ("d3", "2024-01-03 00:00:00", "2024-01-04 00:00:00")],
        "name string, s string, e string",
    ).select("name", F.to_timestamp("s").alias("s"), F.to_timestamp("e").alias("e"))
    got = sorted((r.id, r.name) for r in range_join(ev, iv, "ts", "s", "e").collect())
    assert got == [(1, "d1"), (2, "d3")]


def test_sql_surface_views_and_plan(spark, sf_dir):
    """plans/sql.py: views register idempotently, SQL strings get the same
    Catalyst treatment as DataFrames (pushdown + broadcast visible in the
    plan), and the portable sq1 text parses on both engines (parity test
    covers value equality)."""
    from agent_data_wrangler_spark.plans.sql import register_views, run_sql

    register_views(spark, sf_dir)
    register_views(spark, sf_dir)  # idempotent
    df = run_sql(
        spark, sf_dir,
        "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n "
        "FROM customer WHERE c_acctbal > 0 GROUP BY c_mktsegment",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(c_acctbal), GreaterThan(c_acctbal,0.0)]" in plan
    assert df.count() > 0


def test_sql_views_rebind_after_sf_switch(spark, sf_dir):
    """plans/sql.py memo regression (round-5 advice): after an A -> B -> A
    sf_dir switch in one session, the views must be re-registered for A —
    the old append-only memo skipped it and silently served B's data."""
    from agent_data_wrangler_spark.plans.sql import run_sql

    count_sql = "SELECT CAST(count(*) AS BIGINT) AS n FROM customer"
    other = "/root/testdata/sf0.01"
    n_a = run_sql(spark, sf_dir, count_sql).first()["n"]
    n_b = run_sql(spark, other, count_sql).first()["n"]
    assert n_b != n_a  # distinguishable catalogs, or the test proves nothing
    assert run_sql(spark, sf_dir, count_sql).first()["n"] == n_a
