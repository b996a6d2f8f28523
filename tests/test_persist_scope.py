"""Scoped persistence (operators/held.py): the helper's contract, and
source guards that keep every cache in the engine going through it and
every scratch dir going through plans/derived.py."""

from __future__ import annotations

import pathlib
import re

import pytest

from agent_data_wrangler_spark.operators.held import checkpointed, held

PKG = pathlib.Path(__file__).resolve().parents[1] / "agent_data_wrangler_spark"
_CACHE_CALL = re.compile(r"\.(persist|unpersist)\(|\.cache\(\)|StorageLevel")
# The one cache outside the helper: a pipeline stage's spec opt-in
# ``cache=True``, whose frame the pipeline's caller owns (see Stage).
_EXEMPT = {("plans/pipeline.py", "return out.cache() if self.cache else out")}


def test_engine_caches_only_through_held():
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "operators/held.py":
            continue
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if _CACHE_CALL.search(line) and (rel, line.strip()) not in _EXEMPT:
                hits.append(f"{rel}:{no}: {line.strip()}")
    assert not hits, "persist outside operators/held.py:\n" + "\n".join(hits)


_SCRATCH_NAMES = re.compile(r"\btempfile\b|_scratch_dir|_drop_scratch")


def test_engine_makes_scratch_only_through_derived():
    """Every scratch dir has one of plans/derived.py's two lifetimes
    (``staged`` or ``scratch``); no other engine module makes or removes
    one itself."""
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "plans/derived.py":
            continue
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if _SCRATCH_NAMES.search(line):
                hits.append(f"{rel}:{no}: {line.strip()}")
    assert not hits, "scratch outside plans/derived.py:\n" + "\n".join(hits)


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_held_releases_on_every_exit(spark):
    spark.catalog.clearCache()
    with held() as h:
        a = h.keep(spark.range(10))
        b = h.keep(spark.range(20))
        assert a.is_cached and b.is_cached
        h.drop(a)
        assert not a.is_cached and b.is_cached
    assert not b.is_cached and _cache_empty(spark)

    with pytest.raises(RuntimeError):
        with held() as h:
            h.keep(spark.range(30)).count()
            raise RuntimeError("mid-block failure")
    assert _cache_empty(spark)


def test_checkpointed_result_outlives_its_scope(spark):
    spark.catalog.clearCache()

    @checkpointed
    def build(h, n):
        base = h.keep(spark.range(n))
        return base.join(base.selectExpr("id * 2 AS id"), "id")

    out = build(40)
    assert _cache_empty(spark)
    assert sorted(r.id for r in out.collect()) == list(range(0, 40, 2))
    with held() as h:
        plan = build.__wrapped__(h, 40)._jdf.queryExecution() \
            .executedPlan().toString()
    assert "InMemoryTableScan" in plan
    assert _cache_empty(spark)


def test_kept_frames_take_aqe_sized_partitions(spark):
    """A kept frame is planned like any uncached shuffle: AQE coalesces its
    output, so a grouped frame of a few KB is not scanned by one task per
    configured shuffle partition."""
    from pyspark.sql import functions as F

    configured = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with held() as h:
        grouped = h.keep(
            spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count())
        assert grouped.count() == 10
        assert grouped.rdd.getNumPartitions() < configured
