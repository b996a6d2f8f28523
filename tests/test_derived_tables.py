"""plans/derived.py — the materialized trade-graph rollup shared by
gr1/tr1/rx1 (r09 directive: their decade ratios grew because each query
re-derived the orders⋈lineitem pair expansion per invocation)."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from agent_data_wrangler_spark.plans import derived
from agent_data_wrangler_spark.sources.readers import read_table


@pytest.fixture(autouse=True)
def _fresh_memo():
    """Each test sees clean memos, and never poisons another test's; the
    scratch layouts a test staged are removed with its memo entries."""
    saved = dict(derived._TRADE_GRAPH)
    saved_staged = dict(derived._STAGED)
    derived._TRADE_GRAPH.clear()
    derived._STAGED.clear()
    yield
    derived._TRADE_GRAPH.clear()
    derived._TRADE_GRAPH.update(saved)
    for _ident, base, _value in derived._STAGED.values():
        shutil.rmtree(base, ignore_errors=True)
    derived._STAGED.clear()
    derived._STAGED.update(saved_staged)


def test_rollup_matches_direct_derivation(spark, sf_dir):
    """The materialized tables must be row-for-row identical to the
    from-scratch derivation the queries used to inline — the rollup is a
    cache, never a semantic change."""
    edges, pairs = derived.trade_graph_tables(spark, str(sf_dir))

    li = read_table(spark, str(sf_dir), "lineitem").select(
        "l_orderkey", "l_suppkey")
    o = read_table(spark, str(sf_dir), "orders").select(
        "o_orderkey", "o_custkey")
    op = li.distinct()
    want_edges = (
        op.join(o, op["l_orderkey"] == o["o_orderkey"])
        .select((F.col("o_custkey") * 2).alias("src"),
                (F.col("l_suppkey") * 2 + 1).alias("dst"))
        .distinct()
    )
    a = op.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_suppkey").alias("s1"))
    b = op.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_suppkey").alias("s2"))
    want_pairs = (
        a.join(b, "ok").filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2").agg(F.count(F.lit(1)).alias("w"))
    )
    assert edges.exceptAll(want_edges).isEmpty()
    assert want_edges.exceptAll(edges).isEmpty()
    assert pairs.exceptAll(want_pairs).isEmpty()
    assert want_pairs.exceptAll(pairs).isEmpty()


def test_rollup_memoizes_and_cleans_up(spark, sf_dir):
    """One build per (session, source identity): the second call reads the
    same parquet artifact (identical input files, no rewrite), and the
    build's temporary persist is released (the graph operators' ledger
    contract)."""
    spark.catalog.clearCache()
    e1, p1 = derived.trade_graph_tables(spark, str(sf_dir))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    first_paths = derived._TRADE_GRAPH[derived._cache_dir(str(sf_dir))]
    mtimes = {
        os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
        for d in first_paths for f in os.listdir(d)
    }
    e2, p2 = derived.trade_graph_tables(spark, str(sf_dir))
    assert derived._TRADE_GRAPH[derived._cache_dir(str(sf_dir))] \
        == first_paths
    assert set(e2.inputFiles()) == set(e1.inputFiles())
    assert set(p2.inputFiles()) == set(p1.inputFiles())
    for p, t in mtimes.items():
        assert os.path.getmtime(p) == t, (
            f"memoized call rewrote the artifact: {p}")


def test_rollup_rebuilds_on_source_mutation(spark, sf_dir, tmp_path):
    """A regenerated source (same directory, new file content/mtime) must
    trigger a REBUILD, never a stale read — the cache key and the session
    memo are both derived from per-file source identity, so in-place
    re-generation mid-session (a gen_sf re-run) changes the key."""
    import shutil as sh

    src = tmp_path / "sf"
    src.mkdir()
    for t in ("lineitem", "orders"):
        sh.copy(os.path.join(str(sf_dir), f"{t}.parquet"),
                src / f"{t}.parquet")
    base1 = derived._cache_dir(str(src))
    e1, _ = derived.trade_graph_tables(spark, str(src))
    files1 = set(e1.inputFiles())

    # In-place rewrite: same path, new mtime (content identical is fine —
    # identity is (mtime, size), the conservative side).
    os.utime(src / "lineitem.parquet", ns=(1, 1))
    base2 = derived._cache_dir(str(src))
    assert base2 != base1, "source mutation did not change the cache key"
    e2, _ = derived.trade_graph_tables(spark, str(src))
    assert set(e2.inputFiles()) != files1, (
        "mutated source was served the stale rollup artifact")
    assert base2 in derived._TRADE_GRAPH
    for b in (base1, base2):
        sh.rmtree(b, ignore_errors=True)


def test_cache_root_is_per_user_and_private(sf_dir):
    """The artifact root is uid-scoped and 0700 (ADVICE r10: a fixed
    world-predictable /tmp path lets another local user pre-publish a
    poisoned artifact that passes the _SUCCESS completeness check)."""
    root = derived._cache_root()
    assert str(os.getuid()) in os.path.basename(root)
    assert (os.stat(root).st_mode & 0o777) == 0o700
    assert derived._cache_dir(str(sf_dir)).startswith(root + os.sep)


def test_cache_root_env_override(monkeypatch, tmp_path):
    monkeypatch.setenv("ADW_CACHE_DIR", str(tmp_path / "cache"))
    assert derived._cache_root() == str(tmp_path / "cache")
    assert os.path.isdir(tmp_path / "cache")


def test_graph_queries_scan_the_rollup(spark, sf_dir):
    """gr1/tr1/rx1's 100 TB claim: after the one-time build, their plans
    scan the small materialized edge tables — lineitem never reappears in
    a per-query plan."""
    from __spark_entry__ import queries
    from agent_data_wrangler_spark.operators.held import held

    derived.trade_graph_tables(spark, str(sf_dir))  # pay the build once
    for name in ("tr1_triangle_count", "rx1_recursive_reachability",
                 "dg1_cosupply_rollup_topk", "dg2_trade_edges_checksum"):
        q = queries()[name]
        # tr1 checkpoints its result: read its WORKING plan, built inside
        # a live scope, instead of the flat checkpoint.
        build = getattr(q, "__wrapped__", None)
        with held() as h:
            df = build(h, spark, str(sf_dir)) if build else q(spark, str(sf_dir))
            plan = df._jdf.queryExecution().executedPlan().toString()
            files = df.inputFiles()
        # tr1's plan text carries the rollup path in its cached subtrees;
        # rx1's UnionLoop elides relation paths, but inputFiles() resolves
        # them — accept either witness, and ban lineitem in both.
        assert ("adw_trade_graph_" in plan
                or (files and all("adw_trade_graph_" in f for f in files))
                ), (name, plan, files)
        assert "lineitem" not in plan, (name, plan)


def test_dg1_is_topk_heap_over_rollup(spark, sf_dir):
    """dg1's 100 TB shape: a TakeOrderedAndProject heap straight over the
    materialized pair table — no global sort, no join, no lineitem."""
    from agent_data_wrangler_spark.queryset_nstar import QUERIES as Q2

    derived.trade_graph_tables(spark, str(sf_dir))
    plan = Q2["dg1_cosupply_rollup_topk"](spark, str(sf_dir)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Join" not in plan, plan
    assert "lineitem" not in plan, plan


def test_staged_layouts_rebuild_on_source_rewrite(spark, sf_dir, tmp_path):
    """A staged scratch layout is reused only while its source keeps its
    file identity: rewriting events.parquet in place (same path, half the
    rows) must make csv1's export and pp1's partitioned copy rebuild, and
    the rebuild REPLACES the memo entry instead of adding one."""
    import pyarrow.parquet as pq

    from __spark_entry__ import queries

    src = tmp_path / "sf"
    src.mkdir()
    events = src / "events.parquet"
    shutil.copy(os.path.join(str(sf_dir), "events.parquet"), events)
    csv1 = queries()["csv1_roundtrip_events"]
    pp1 = queries()["pp1_partition_pruned_events"]

    def seen() -> tuple[int, int]:
        n_rows = sum(r["n"] for r in csv1(spark, str(src)).collect())
        return n_rows, pp1(spark, str(src)).first()["n"]

    def expected(n_rows: int) -> tuple[int, int]:
        ev = read_table(spark, str(src), "events")
        assert ev.count() == n_rows
        return n_rows, ev.filter(F.col("event_type") == "purchase").count()

    table = pq.read_table(events)
    assert seen() == expected(table.num_rows)
    n_entries = len(derived._STAGED)

    half = table.slice(0, table.num_rows // 2)
    pq.write_table(half, events)
    assert seen() == expected(half.num_rows)
    assert len(derived._STAGED) == n_entries
    assert sorted(kind[0] for kind, d in derived._STAGED
                  if d == str(src)) == ["csv", "part"]


def test_staged_export_keys_every_build_parameter(spark, sf_dir):
    """Two exports of one format that differ only in ``spread`` are two
    layouts — neither may be served the other's files."""
    from agent_data_wrangler_spark.queryset import _staged_export

    plain = _staged_export(spark, str(sf_dir), "xml", "events.xml")
    spread = _staged_export(spark, str(sf_dir), "xml", "events.xml",
                            spread=True)
    assert os.path.dirname(plain) != os.path.dirname(spread)
    assert _staged_export(spark, str(sf_dir), "xml", "events.xml") == plain
    assert len(derived._STAGED) == 2


def test_staged_dirs_are_adw_scratch(spark, sf_dir):
    """Staged layouts live in ``adw_*`` dirs directly under the temp dir
    or /dev/shm — where the temp sweeps and leftover ledgers look."""
    from agent_data_wrangler_spark.queryset import _partitioned_events
    from agent_data_wrangler_spark.queryset_nstar import _staged_events

    _partitioned_events(spark, str(sf_dir))
    _staged_events(spark, str(sf_dir))
    roots = {os.path.realpath(tempfile.gettempdir()), "/dev/shm"}
    assert len(derived._STAGED) == 2
    for _ident, base, _value in derived._STAGED.values():
        assert os.path.basename(base).startswith("adw_"), base
        assert os.path.realpath(os.path.dirname(base)) in roots, base
