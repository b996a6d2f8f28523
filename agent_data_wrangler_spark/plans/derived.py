"""The engine's scratch dirs and their two lifetimes; no other module makes
or removes one.

- Source version (:func:`staged`): an output that depends only on its
  source tables (the trade-graph rollup below, every staged copy or layout,
  pl2's log, st5's rollup) is built once per source identity; a rewrite
  rebuilds it and removes the superseded dir.
- Call (:func:`scratch`): a dir that one call alone reads (a stream
  checkpoint, a tamper copy) lives for one ``with`` block.

The graph queries (gr1 PageRank, tr1 triangle counting, rx1 recursive
reachability) each used to re-derive their edge list from the raw
orders⋈lineitem pair expansion on every invocation, and that distinct-over-
pair-expansion IS their dominant cost: SCALING.md (r09) showed the
sf1→sf10 decade ratio GROWING for exactly these two families (gr1 1.8×→5.0×,
tr1 3.4×→4.9×) while everything else stayed at-most-linear. At 100 TB the
correct design is the standard warehouse one: aggregate the fact-table pair
expansion ONCE into small derived edge tables (|customer-supplier pairs| and
|supplier co-occurrence pairs| are orders of magnitude smaller than
lineitem), materialize them as parquet, and point every graph query at the
rollup. One pass over the 100 TB fact table amortizes across every
consumer instead of being paid per query.

Reference parity: the reference agent (`tool_call_agent.py:29-54`) re-runs
its generated pandas from the raw CSV every invocation — at its ≤500-row
scale that is free; this module is the engine-side answer for when it is
not.

Each table is its own artifact, built the first time a caller asks for it
and keyed on only the sources its build reads (see :data:`_TABLES`):
``trade_edges`` (gr1, dg2) is one lineitem⋈orders join plus ``distinct``,
``cosupply_pairs`` (tr1, rx1, dg1) one per-order ``collect_set`` over
lineitem. A call pays only for the table it reads, and rewriting orders
rebuilds ``trade_edges`` while the pair table stays valid. The price is one
extra two-column lineitem scan when a session reads both tables, which a
shared pre-aggregate would have paid once.

Everything here is scoped to the process that built it, like the
reference's ``basic_info`` cache that lives in one run's agent state, and
at exit the process removes every dir it made. Nothing is shared across
processes: a deployment that wants a persistent rollup keeps it as a
catalog table.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession, functions as F

from agent_data_wrangler_spark.sources.readers import (
    _path_identity,
    read_table,
)


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )


def _cosupply_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13-opt (the mb1/fi1 rewrite): per-order supplier SETS via one
    # groupBy(collect_set) — a .distinct() + self-join-on-orderkey shuffles
    # the deduped frame three times; the sorted-array combos generate each
    # s1<s2 pair once, bounded by C(basket, 2).
    ss = F.col("ss")
    combos = F.flatten(
        F.transform(
            ss,
            lambda x, i: F.transform(
                F.slice(ss, i + F.lit(2), F.size(ss)),
                lambda y: F.struct(x.alias("s1"), y.alias("s2")),
            ),
        )
    )
    return (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_suppkey")).alias("ss"))
        .select(F.explode(combos).alias("pr"))
        .select("pr.s1", "pr.s2")
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("w"))
    )


# table → (the source tables its build reads, its schema, the build): an
# artifact is keyed on exactly these sources, so a rewrite of another table
# never invalidates it. Reading with the known schema skips the footer
# inference job on every hit.
_TABLES: dict[str, tuple[tuple[str, ...], str,
                          Callable[[SparkSession, str], DataFrame]]] = {
    "trade_edges": (("lineitem", "orders"), "src BIGINT, dst BIGINT",
                    _trade_edges),
    "cosupply_pairs": (("lineitem",), "s1 BIGINT, s2 BIGINT, w BIGINT",
                       _cosupply_pairs),
}


def _build_trade_graph(
    spark: SparkSession, sf_dir: str, table: str, path: str
) -> None:
    """Write ``table`` to ``path``."""
    _TABLES[table][2](spark, sf_dir).write.parquet(path)


def trade_graph_tables(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    """One table of the TPC-H-ish trade graph, built on first request.

    ``"trade_edges"``: ``(src BIGINT, dst BIGINT)`` — the distinct
    customer→supplier trade pairs from orders⋈lineitem, in gr1's integer
    node encoding (customer 2k, supplier 2k+1: every downstream
    distinct/join/shuffle hashes 8-byte longs, not strings).
    UNSYMMETRIZED — consumers that need the undirected graph union the
    reversed frame themselves (metadata-cheap, and keeping the artifact
    minimal halves its bytes).

    ``"cosupply_pairs"``: ``(s1 BIGINT, s2 BIGINT, w BIGINT)`` with
    ``s1 < s2`` — supplier co-occurrence counts (number of distinct orders
    in which both suppliers appear), the weighted edge list tr1 thresholds
    at p90 and rx1 walks. The pair expansion fans out
    C(suppliers_per_order, 2) per order — bounded by the max basket (TPC-H
    ~7 lines), linear in orders, never |suppliers|².

    Staged once per source identity (:func:`staged`): later calls in this
    process read the parquet artifact, while a regenerated source — even
    into the same directory mid-session — triggers a rebuild, never a
    stale read. The memo holds the artifact's path, not a frame, so a
    session made after ``spark.stop()`` still reads it.
    """
    sources, schema, _ = _TABLES[table]

    def build(base: str) -> str:
        path = os.path.join(base, table)
        _build_trade_graph(spark, sf_dir, table, path)
        return path

    path = staged(sf_dir, sources, ("trade_graph", table), build)
    return spark.read.schema(schema).parquet(path)


# (kind, abspath(sf_dir)) → (source identity, scratch dir, built value):
# one entry per key, replaced on rebuild, so the memo is bounded by the
# number of distinct layouts a session asks for.
_STAGED: dict[tuple[tuple, str], tuple[str, str, object]] = {}
T = TypeVar("T")


# scratch dir → the pid that made it: a process removes only its own dirs
# at exit, so a forked child never deletes its parent's scratch.
_SCRATCH: dict[str, int] = {}


def _scratch_dir(prefix: str, *, tmpfs: bool) -> str:
    """A fresh ``<prefix>*`` dir, removed when this process exits at the
    latest; the one place the engine makes a temp dir.

    ``tmpfs`` puts it under /dev/shm when that is writable. Local
    state-store commits fsync per micro-batch; on a disk-backed /tmp that
    IO dominates the small-SF streaming bench (each query pays ~1s of pure
    checkpoint latency). On a real cluster the checkpoint goes to HDFS/S3
    and the choice is irrelevant — it only shapes the local harness."""
    base = ("/dev/shm" if tmpfs and os.access("/dev/shm", os.W_OK)
            else None)
    path = tempfile.mkdtemp(prefix=prefix, dir=base)
    _SCRATCH[path] = os.getpid()
    return path


def _drop_scratch(path: str) -> None:
    """Remove a dir :func:`_scratch_dir` made, before exit."""
    shutil.rmtree(path, ignore_errors=True)
    _SCRATCH.pop(path, None)


@contextmanager
def scratch(prefix: str, *, tmpfs: bool) -> Iterator[str]:
    """A fresh ``<prefix>*`` dir for one call's own writes, removed when the
    block exits however it exits (see :func:`_scratch_dir` for ``tmpfs``)."""
    path = _scratch_dir(prefix, tmpfs=tmpfs)
    try:
        yield path
    finally:
        _drop_scratch(path)


@atexit.register
def _drop_own_scratch() -> None:
    pid = os.getpid()
    for path, owner in list(_SCRATCH.items()):
        if owner == pid:
            _drop_scratch(path)


def staged(sf_dir: str, tables: tuple[str, ...], kind: tuple,
           build: Callable[[str], T], *, tmpfs: bool = False) -> T:
    """``build(dir)``'s value for a scratch layout staged from ``sf_dir``:
    registered queries run many times per session, and re-staging per call
    redoes the IO and leaks a dir per call.

    ``kind`` is the artifact name plus EVERY build parameter (e.g. ``("xml",
    "events.xml", True)``). The value is reused only while each
    ``{sf_dir}/{t}.parquet`` in ``tables`` keeps its file identity and the
    dir still exists; otherwise ``build`` runs on a fresh ``adw_<name>_``
    dir (under /dev/shm when ``tmpfs``) and replaces the entry. The
    replaced entry's dir is removed, so a frame still reading it fails
    instead of reading data from before the source rewrite; a build that
    raises leaves no dir behind.
    """
    key = (kind, os.path.abspath(sf_dir))
    ident = ";".join(
        _path_identity(os.path.join(sf_dir, f"{t}.parquet")) for t in tables)
    hit = _STAGED.get(key)
    if hit is not None:
        if hit[0] == ident and os.path.isdir(hit[1]):
            return hit[2]
        del _STAGED[key]
        _drop_scratch(hit[1])
    base = _scratch_dir(f"adw_{kind[0]}_", tmpfs=tmpfs)
    try:
        value = build(base)
    except BaseException:
        _drop_scratch(base)
        raise
    _STAGED[key] = (ident, base, value)
    return value
