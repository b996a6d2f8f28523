"""The fit memo (operators/fits.py): a one-row fit aggregate runs once per
source version, and never serves a stale, non-deterministic or
non-file-backed result. Jobs are counted as the DAG scheduler's job-id delta,
which host load cannot move."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from agent_data_wrangler_spark.operators import fits
from agent_data_wrangler_spark.plans.pipeline import Pipeline, default_registry
from agent_data_wrangler_spark.sources.readers import read_table

# Queries whose every build-time job is a routed fit.
FIT_QUERIES = ["t1_median_fill_events", "t2_mean_fill_events",
               "t5_outlier_null_impute_orders", "f1_f2_dropnull_sigma_events",
               "pl1_pipeline_spec_events", "pl2_pipeline_event_log_events",
               "p7_profile_cache_events"]


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` fires."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    start = dag.nextJobId()
    fn()
    return dag.nextJobId() - start


@pytest.fixture(scope="module")
def registry():
    from __spark_entry__ import queries

    return queries()


def test_rewritten_source_refits(spark, sf_dir, tmp_path, registry):
    """Rewriting events.parquet in place (same path, half the rows) re-runs
    the fits: t1's and f1_f2's results change to what a cold run gives."""
    import pyarrow.parquet as pq

    src = tmp_path / "sf"
    src.mkdir()
    events = src / "events.parquet"
    shutil.copy(os.path.join(str(sf_dir), "events.parquet"), events)
    names = ["t1_median_fill_events", "f1_f2_dropnull_sigma_events"]

    def seen() -> list:
        return [sorted(registry[n](spark, str(src)).collect()) for n in names]

    before = seen()
    assert _jobs(spark, lambda: [registry[n](spark, str(src)) for n in names]) == 0
    table = pq.read_table(events)
    pq.write_table(table.slice(0, table.num_rows // 2), events)
    after = seen()
    fits._MEMO.clear()
    cold = seen()
    assert after == cold
    assert after[0] != before[0] and after[1] != before[1]


@pytest.mark.parametrize("kind", [
    "current_timestamp", "rand", "rdd", "cached", "python_datasource"])
def test_unmemoizable_fits_always_run(spark, sf_dir, kind):
    """Inputs the memo must never serve: every call fires its job."""
    ev = read_table(spark, str(sf_dir), "events")
    cached = None
    if kind == "current_timestamp":
        def frame():
            return ev.agg(F.count(F.lit(1)), F.max(F.current_timestamp()))
    elif kind == "rand":
        def frame():
            return ev.select(F.rand().alias("r")).agg(F.sum("r"))
    elif kind == "rdd":
        def frame():
            return spark.sparkContext.parallelize([(1,), (2,)]).toDF(["a"]) \
                .agg(F.sum("a"))
    elif kind == "cached":
        cached = ev.select("value").cache()

        def frame():
            return cached.agg(F.sum("value"))
    else:
        from agent_data_wrangler_spark.sources import python_datasource

        python_datasource.register(spark)

        def frame():
            return spark.read.format("synthetic_docs").option("shards", 2) \
                .option("rows_per_shard", 5).load().agg(F.sum("score_milli"))
    try:
        for _ in range(2):
            assert _jobs(spark, lambda: fits.collect_fit(frame())) > 0
    finally:
        if cached is not None:
            cached.unpersist()
    if kind != "current_timestamp":  # its folded literal is a fresh key
        assert not fits._MEMO


def test_memo_is_bounded(spark):
    """CAPACITY + k distinct fits leave exactly CAPACITY entries: the
    oldest k are gone, the newest still hit."""
    k = 5

    def fit(i: int):
        return fits.collect_fit(spark.sql(f"SELECT {i} AS a"))

    for i in range(fits.CAPACITY + k):
        assert fit(i)[0]["a"] == i
    assert len(fits._MEMO) == fits.CAPACITY
    newest = [entry[3][0]["a"] for entry in fits._MEMO.values()]
    assert sorted(newest) == list(range(k, fits.CAPACITY + k))


def test_memo_keeps_no_session_alive(spark):
    """A fit from another session never hits, and an entry holds its
    session only weakly: once that session is gone, the next insert drops
    the entry."""
    import gc

    from pyspark.sql.session import _monkey_patch_RDD

    other = spark.newSession()
    try:
        fits.collect_fit(other.sql("SELECT 1 AS a"))
        fits.collect_fit(spark.sql("SELECT 1 AS a"))
        (entry,) = fits._MEMO.values()
        assert entry[0]() is spark
        fits.collect_fit(other.sql("SELECT 2 AS a"))
        ref = fits._MEMO[next(reversed(fits._MEMO))][0]
        assert ref() is other
    finally:
        # Every new session points PySpark's RDD.toDF at itself; point it
        # back, which also drops that strong reference to ``other``.
        _monkey_patch_RDD(spark)
    del other
    gc.collect()
    assert ref() is None
    fits.collect_fit(spark.sql("SELECT 3 AS a"))
    assert sorted(e[3][0]["a"] for e in fits._MEMO.values()) == [1, 3]


def test_pipeline_row_counts_are_exact_under_head(spark, sf_dir):
    """Memoized stage counts equal the per-stage count(), also with a
    trailing limit and a stage that keeps no rows."""
    ev = read_table(spark, str(sf_dir), "events").select("event_type", "value")
    reg = default_registry()
    for spec in (
        [{"op": "drop_null_rows", "params": {"subset": ["value"]}},
         {"op": "sigma_outlier_filter", "params": {"columns": ["value"]}},
         {"op": "head", "params": {"n": 7}}],
        [{"op": "predicate_filter", "params": {"predicate": "value < -1e300"}},
         {"op": "head", "params": {"n": 3}}],
    ):
        result = Pipeline.from_spec("counted", spec, reg, count_rows=True).run(ev)
        frames, expected = ev, []
        for entry in spec:
            nxt = reg[entry["op"]](frames, **entry["params"])
            expected.append((entry["op"], frames.count(), nxt.count()))
            frames = nxt
        assert result.row_counts == expected
        assert result.events[-1]["rows_out"] == expected[-1][2]


def test_warm_fit_queries_fire_no_build_jobs(spark, sf_dir, registry):
    """A second call on unchanged sources builds from the memo alone."""
    for name in FIT_QUERIES:
        registry[name](spark, str(sf_dir))
        assert _jobs(spark, lambda: registry[name](spark, str(sf_dir))) == 0, name
