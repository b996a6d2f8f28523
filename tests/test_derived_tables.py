"""plans/derived.py — the materialized trade-graph rollup read by
gr1/dg2 (trade_edges) and tr1/rx1/dg1 (cosupply_pairs) (r09 directive:
their decade ratios grew because each query re-derived the orders⋈lineitem
pair expansion per invocation)."""

import os
import shutil
import subprocess
import sys
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
        derived._drop_scratch(base)
    derived._STAGED.clear()
    derived._STAGED.update(saved_staged)


def _next_job(spark) -> int:
    nxt = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return nxt if isinstance(nxt, int) else nxt.get()


def _artifact(sf_dir, table) -> str:
    """The staged path of ``table``'s rollup artifact for ``sf_dir``."""
    key = (("trade_graph", table), os.path.abspath(str(sf_dir)))
    return derived._STAGED[key][2]


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

        path = _artifact(sf_dir, table)
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
    trigger a REBUILD, never a stale read — the memo is keyed on per-file
    source identity, so in-place re-generation mid-session (a gen_sf
    re-run) rebuilds every table built from it and removes the superseded
    artifact."""
    src = _copy_sources(sf_dir, tmp_path)
    tables = ("trade_edges", "cosupply_pairs")
    files1 = {t: set(derived.trade_graph_tables(spark, str(src), t)
                     .inputFiles()) for t in tables}
    before = {t: _artifact(src, t) for t in tables}

    # In-place rewrite: same path, new mtime (content identical is fine —
    # identity is (mtime, size), the conservative side).
    os.utime(src / "lineitem.parquet", ns=(1, 1))
    for t in tables:
        files2 = set(derived.trade_graph_tables(spark, str(src), t)
                     .inputFiles())
        assert files2 != files1[t], (
            f"{t}: mutated source was served the stale rollup artifact")
        after = _artifact(src, t)
        assert after != before[t], f"{t}: source mutation kept the artifact"
        assert os.path.isfile(os.path.join(after, "_SUCCESS"))
        assert not os.path.exists(before[t]), (
            f"{t}: the superseded artifact was left behind")


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


def test_gr1_builds_only_the_table_it_reads(spark, sf_dir):
    """gr1 reads trade_edges alone: from an empty memo it builds that table
    and stages no cosupply_pairs artifact."""
    from __spark_entry__ import queries

    queries()["gr1_pagerank_trade_graph"](spark, str(sf_dir)).collect()
    built = [kind for kind, _d in derived._STAGED if kind[0] == "trade_graph"]
    assert built == [("trade_graph", "trade_edges")], built


def test_rollup_dir_is_private_to_this_process(spark, sf_dir):
    """The rollup's staged dir is this user's, mode 0700, and recorded as
    made by this process, so this process removes it at exit (ADVICE r10:
    a world-predictable /tmp path lets another local user pre-publish a
    poisoned artifact)."""
    derived.trade_graph_tables(spark, str(sf_dir), "trade_edges")
    base = os.path.dirname(_artifact(sf_dir, "trade_edges"))
    assert os.path.basename(base).startswith("adw_trade_graph_"), base
    st = os.stat(base)
    assert st.st_uid == os.getuid()
    assert (st.st_mode & 0o777) == 0o700
    assert derived._SCRATCH[base] == os.getpid()


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
    rows) must make csv1's export, pp1's partitioned copy, cq1's dirty CSV,
    pd2's manifest sink, cm1's compacted copy, zo1's z-ordered copy, pl2's
    event log and st5's rollup rebuild, and a documents rewrite must make
    bin1 restage its files. Repeat calls on unchanged sources keep one dir
    per layout, and a rebuild REPLACES the memo entry instead of adding
    one and removes the superseded dir."""
    from collections import Counter

    import pyarrow.parquet as pq

    from __spark_entry__ import queries

    src = tmp_path / "sf"
    src.mkdir()
    events = src / "events.parquet"
    documents = src / "documents.parquet"
    shutil.copy(os.path.join(str(sf_dir), "events.parquet"), events)
    shutil.copy(os.path.join(str(sf_dir), "documents.parquet"), documents)
    q = {short: fn for name, fn in queries().items()
         for short in ("bin1", "cm1", "cq1", "csv1", "pd2", "pl2", "pp1",
                       "st5", "zo1") if name.startswith(short + "_")}
    kinds = ["bin1", "cm1", "cq1", "csv", "part", "pd2", "pl2", "rollup",
             "stream", "zo1"]
    ours = set(derived._SCRATCH)

    def live_dirs() -> Counter:
        """This test's scratch dirs that still exist, by layout kind."""
        return Counter(os.path.basename(d).split("_")[1]
                       for d in derived._SCRATCH
                       if d not in ours and os.path.isdir(d))

    def first(name: str):
        return q[name](spark, str(src)).first()

    def seen() -> tuple[int, ...]:
        n_rows = sum(r["n"] for r in q["csv1"](spark, str(src)).collect())
        cq = first("cq1")
        log = q["pl2"](spark, str(src)).filter(
            (F.col("event") == "stage_end")
            & (F.col("stage") == "drop_null_values")).first()
        return (n_rows, first("pp1")["n"], cq["n_good"] + cq["n_quarantined"],
                sum(r["n"] for r in q["pd2"](spark, str(src)).collect()),
                first("cm1")["n_rows"], first("zo1")["n_rows"],
                log["rows_in"],
                sum(r["n"] for r in q["st5"](spark, str(src)).collect()),
                first("bin1")["n_files"])

    def expected(n_rows: int) -> tuple[int, ...]:
        ev = read_table(spark, str(src), "events")
        assert ev.count() == n_rows
        purchases = ev.filter(F.col("event_type") == "purchase").count()
        n_docs = read_table(spark, str(src), "documents").filter(
            F.col("doc_id") < 50).count()
        return (n_rows, purchases, n_rows, n_rows, n_rows, n_rows, n_rows,
                n_rows, n_docs)

    table = pq.read_table(events)
    for _ in range(3):
        assert seen() == expected(table.num_rows)
    assert live_dirs() == Counter(kinds)
    n_entries = len(derived._STAGED)
    superseded = [base for (_kind, d), (_ident, base, _value)
                  in derived._STAGED.items() if d == str(src)]

    half = table.slice(0, table.num_rows // 2)
    pq.write_table(half, events)
    pq.write_table(pq.read_table(documents).slice(0, 25), documents)
    assert seen() == expected(half.num_rows)
    assert len(derived._STAGED) == n_entries
    assert sorted(kind[0] for kind, d in derived._STAGED
                  if d == str(src)) == kinds
    assert len(superseded) == len(kinds)
    for base in superseded:
        assert not os.path.exists(base), f"superseded layout kept: {base}"
    assert live_dirs() == Counter(kinds)


def test_bk1_follows_orders_rewrite_and_lost_catalog(spark, sf_dir, tmp_path):
    """bk1's bucketed tables are staged per source version: after an
    in-place orders rewrite it returns the rows fresh files give, and a
    session whose catalog lost the tables still reads the staged files."""
    import pyarrow.parquet as pq

    from __spark_entry__ import queries
    from agent_data_wrangler_spark.queryset import _bucketed_orders_customer

    src = tmp_path / "sf"
    src.mkdir()
    for t in ("orders", "customer"):
        shutil.copy(os.path.join(str(sf_dir), f"{t}.parquet"),
                    src / f"{t}.parquet")
    bk1 = queries()["bk1_bucketed_join_revenue"]

    def rows() -> list[tuple]:
        return sorted(map(tuple, bk1(spark, str(src)).collect()))

    def fresh() -> list[tuple]:
        o = read_table(spark, str(src), "orders")
        c = read_table(spark, str(src), "customer")
        return sorted(map(tuple, o.join(c, o.o_custkey == c.c_custkey)
                          .groupBy(F.col("c_mktsegment").alias("segment"))
                          .agg(F.count(F.lit(1)).alias("n_orders"),
                               F.round(F.sum("o_totalprice"), 2)
                               .alias("revenue")).collect()))

    def same(got, want) -> bool:
        return ([r[:2] for r in got] == [r[:2] for r in want]
                and all(g[2] == pytest.approx(w[2], abs=0.011)
                        for g, w in zip(got, want)))

    names = _bucketed_orders_customer(spark, str(src))
    try:
        assert same(rows(), fresh())
        orders = src / "orders.parquet"
        table = pq.read_table(orders)
        pq.write_table(table.slice(0, table.num_rows // 2), orders)
        want = fresh()
        assert same(rows(), want), "orders rewrite served the stale join"

        for name in names:
            spark.sql(f"DROP TABLE {name}")
        assert same(rows(), want), "dropped catalog tables lost the join"
    finally:
        for name in names:
            spark.sql(f"DROP TABLE IF EXISTS {name}")


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


def test_process_removes_its_scratch_at_exit(tmp_path):
    """A process removes the staged and per-call scratch dirs it made when
    it exits; a child forked from it exits without touching them."""
    code = f"""
import os, sys
from agent_data_wrangler_spark.plans import derived
dirs = [derived.staged({str(tmp_path)!r}, (), ("exit_probe",), lambda d: d),
        derived._scratch_dir("adw_exit_probe_", tmpfs=True)]
pid = os.fork()
if pid == 0:
    sys.exit(0)
os.waitpid(pid, 0)
print(*dirs, all(os.path.isdir(d) for d in dirs))
"""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = subprocess.run([sys.executable, "-c", code], cwd=repo,
                           capture_output=True, text=True, timeout=120)
    assert child.returncode == 0, child.stderr[-3000:]
    *dirs, kept_after_fork = child.stdout.split()
    assert len(dirs) == 2 and kept_after_fork == "True", child.stdout
    for d in dirs:
        assert os.path.basename(d).startswith("adw_exit_probe_"), d
        assert not os.path.exists(d), f"left behind at exit: {d}"
