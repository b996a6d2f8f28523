"""plans/derived.py — the materialized trade-graph rollup read by
gr1/dg2 (trade_edges) and tr1/rx1/dg1 (cosupply_pairs) (r09 directive:
their decade ratios grew because each query re-derived the orders⋈lineitem
pair expansion per invocation)."""

import fcntl
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from agent_data_wrangler_spark.plans import derived
from agent_data_wrangler_spark.sources.readers import read_table


@pytest.fixture(autouse=True)
def _fresh_memo():
    """Each test sees a clean staging memo, and never poisons another
    test's; the scratch layouts a test staged are removed with its memo
    entries."""
    saved_staged = dict(derived._STAGED)
    derived._STAGED.clear()
    yield
    for _ident, base, _value in derived._STAGED.values():
        shutil.rmtree(base, ignore_errors=True)
    derived._STAGED.clear()
    derived._STAGED.update(saved_staged)


def _next_job(spark) -> int:
    nxt = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return nxt if isinstance(nxt, int) else nxt.get()


def _copy_sources(sf_dir, tmp_path):
    src = tmp_path / "sf"
    src.mkdir()
    for t in ("lineitem", "orders"):
        shutil.copy(os.path.join(str(sf_dir), f"{t}.parquet"),
                    src / f"{t}.parquet")
    return src


def test_rollup_matches_direct_derivation(spark, sf_dir):
    """The materialized tables must be row-for-row identical to the
    from-scratch derivation the queries used to inline — the rollup is a
    cache, never a semantic change."""
    edges = derived.trade_graph_tables(spark, str(sf_dir), "trade_edges")
    pairs = derived.trade_graph_tables(spark, str(sf_dir), "cosupply_pairs")

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
    """One build per source identity: a repeat call reads the same parquet
    artifact (identical input files, no rewrite) and runs no Spark job,
    and no build leaves a cache entry behind (the graph operators' ledger
    contract)."""
    spark.catalog.clearCache()
    for table in ("trade_edges", "cosupply_pairs"):
        first = derived.trade_graph_tables(spark, str(sf_dir), table)
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

        path = derived._cache_dir(str(sf_dir), table)
        mtimes = {f: os.path.getmtime(os.path.join(path, f))
                  for f in os.listdir(path)}
        jobs = _next_job(spark)
        again = derived.trade_graph_tables(spark, str(sf_dir), table)
        assert _next_job(spark) == jobs, f"{table}: a hit ran a Spark job"
        assert set(again.inputFiles()) == set(first.inputFiles())
        for f, t in mtimes.items():
            assert os.path.getmtime(os.path.join(path, f)) == t, (
                f"memoized call rewrote the artifact: {path}/{f}")


def test_rollup_rebuilds_on_source_mutation(spark, sf_dir, tmp_path):
    """A regenerated source (same directory, new file content/mtime) must
    trigger a REBUILD, never a stale read — the cache key is derived from
    per-file source identity, so in-place re-generation mid-session (a
    gen_sf re-run) changes the key of every table built from it."""
    src = _copy_sources(sf_dir, tmp_path)
    before = {t: derived._cache_dir(str(src), t)
              for t in ("trade_edges", "cosupply_pairs")}
    files1 = {t: set(derived.trade_graph_tables(spark, str(src), t)
                     .inputFiles()) for t in before}

    # In-place rewrite: same path, new mtime (content identical is fine —
    # identity is (mtime, size), the conservative side).
    os.utime(src / "lineitem.parquet", ns=(1, 1))
    for t, base1 in before.items():
        base2 = derived._cache_dir(str(src), t)
        assert base2 != base1, f"{t}: source mutation kept the cache key"
        files2 = set(derived.trade_graph_tables(spark, str(src), t)
                     .inputFiles())
        assert files2 != files1[t], (
            f"{t}: mutated source was served the stale rollup artifact")
        assert derived._complete(base2)
        for b in (base1, base2):
            shutil.rmtree(b, ignore_errors=True)


def test_orders_rewrite_rebuilds_only_trade_edges(spark, sf_dir, tmp_path):
    """Each table is keyed on only the sources its build reads:
    cosupply_pairs comes from lineitem alone, so rewriting orders in place
    rebuilds trade_edges and still serves the same pair artifact."""
    src = _copy_sources(sf_dir, tmp_path)
    edges1 = set(derived.trade_graph_tables(spark, str(src), "trade_edges")
                 .inputFiles())
    pairs1 = set(derived.trade_graph_tables(spark, str(src), "cosupply_pairs")
                 .inputFiles())

    os.utime(src / "orders.parquet", ns=(1, 1))
    edges2 = set(derived.trade_graph_tables(spark, str(src), "trade_edges")
                 .inputFiles())
    jobs = _next_job(spark)
    pairs2 = set(derived.trade_graph_tables(spark, str(src), "cosupply_pairs")
                 .inputFiles())
    assert edges2 != edges1, "orders rewrite served the stale trade_edges"
    assert pairs2 == pairs1 and _next_job(spark) == jobs, (
        "orders rewrite rebuilt cosupply_pairs, which never reads orders")
    for f in edges1 | edges2 | pairs1:
        shutil.rmtree(os.path.dirname(f.removeprefix("file:")),
                      ignore_errors=True)


def test_gr1_builds_only_the_table_it_reads(spark, sf_dir, tmp_path,
                                             monkeypatch):
    """gr1 reads trade_edges alone: against a fresh cache root it builds
    that table and leaves no cosupply_pairs artifact behind."""
    from __spark_entry__ import queries

    monkeypatch.setenv("ADW_CACHE_DIR", str(tmp_path / "cache"))
    queries()["gr1_pagerank_trade_graph"](spark, str(sf_dir)).collect()
    built = [d for _root, dirs, _files in os.walk(tmp_path / "cache")
             for d in dirs]
    assert any(n.startswith("trade_edges-") for n in built), built
    assert not any("cosupply_pairs" in n for n in built), built


def test_each_table_builds_under_its_own_lock(spark, sf_dir, tmp_path,
                                              monkeypatch):
    """A crashed builder's incomplete leftover is cleared and rebuilt under
    the table's lock, and a builder holding one table's lock never blocks
    a build of the other table."""
    monkeypatch.setenv("ADW_CACHE_DIR", str(tmp_path / "cache"))
    path = derived._cache_dir(str(sf_dir), "cosupply_pairs")
    os.makedirs(path)
    open(os.path.join(path, "part-crashed.parquet"), "w").close()
    assert not derived._complete(path)

    edges_lock = derived._cache_dir(str(sf_dir), "trade_edges") + ".lock"
    with open(edges_lock, "w") as held_lock:
        fcntl.flock(held_lock, fcntl.LOCK_EX)
        pairs = derived.trade_graph_tables(spark, str(sf_dir), "cosupply_pairs")
        assert pairs.count() > 0
    assert derived._complete(path)
    assert os.path.isfile(path + ".lock")
    assert "part-crashed.parquet" not in os.listdir(path)


def test_cache_root_is_per_user_and_private(sf_dir):
    """The artifact root is uid-scoped and 0700 (ADVICE r10: a fixed
    world-predictable /tmp path lets another local user pre-publish a
    poisoned artifact that passes the _SUCCESS completeness check)."""
    root = derived._cache_root()
    assert str(os.getuid()) in os.path.basename(root)
    assert (os.stat(root).st_mode & 0o777) == 0o700
    for t in ("trade_edges", "cosupply_pairs"):
        assert derived._cache_dir(str(sf_dir), t).startswith(root + os.sep)


def test_cache_root_env_override(monkeypatch, tmp_path):
    monkeypatch.setenv("ADW_CACHE_DIR", str(tmp_path / "cache"))
    assert derived._cache_root() == str(tmp_path / "cache")
    assert os.path.isdir(tmp_path / "cache")


def test_graph_queries_scan_the_rollup(spark, sf_dir):
    """gr1/tr1/rx1's 100 TB claim: once a query's table is built, its plan
    scans the small materialized edge table — lineitem never reappears in
    a per-query plan."""
    from __spark_entry__ import queries
    from agent_data_wrangler_spark.operators.held import held

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
