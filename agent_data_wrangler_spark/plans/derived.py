"""Materialized derived tables — the warehouse rollup / materialized-view
pattern, cached per source identity at a stable path.

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
consumer instead of being paid per query — the same build-once/probe-many
contract as the per-session scratch layouts (the ANN index lanes n10/n11,
the export roundtrips, the streaming sources), which all stage through
:func:`staged` below.

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

Cache location and concurrency contract:

- the artifact root is PER-USER (uid-suffixed, created 0700) under the
  system temp dir, overridable with ``ADW_CACHE_DIR`` — a shared
  world-writable path would let another user pre-publish a poisoned
  artifact that passes the _SUCCESS completeness check;
- same-host builders of one table serialize on that table's fcntl lock
  around the check/build/publish critical section, so a complete artifact
  is NEVER deleted (deletion only happens under the lock, after a fresh
  incompleteness check) and in-flight readers of a published artifact are
  safe. Where fcntl is unavailable the fallback is best-effort
  (re-check-immediately-before-delete + atomic-rename publish), which
  narrows but does not close the race — single-builder use is the
  contract there.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable
from typing import TypeVar

try:
    import fcntl
except ImportError:  # non-POSIX — fall back to best-effort publish
    fcntl = None  # type: ignore[assignment]

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


def _cache_root() -> str:
    """Per-user artifact root (0700), overridable with ADW_CACHE_DIR.

    The uid suffix + 0700 mode keep the cache out of reach of other local
    users: nobody else can pre-create an artifact dir (EACCES on our
    publish rename) or pre-publish a poisoned artifact that would pass the
    _SUCCESS-only completeness check.
    """
    root = os.environ.get("ADW_CACHE_DIR")
    if not root:
        root = os.path.join(
            tempfile.gettempdir(),
            f"adw_trade_graph_cache-{os.getuid()}")
    os.makedirs(root, mode=0o700, exist_ok=True)
    return root


def _cache_dir(sf_dir: str, table: str) -> str:
    """STABLE location of ``table``'s artifact, keyed by its sources'
    identity.

    A per-session ``mkdtemp`` would orphan a multi-GB copy of the rollup
    in /tmp every session; instead the artifact lives at a deterministic
    path derived from (sf_dir, table, the file-level mtime/size of each
    source the table's build reads), so (a) later calls and later sessions
    REUSE a completed build — the correct steady-state for a materialized
    view — and (b) a changed source gets a new key, never a stale read.
    Completeness is judged by Spark's own _SUCCESS marker; builds
    serialize on an fcntl lock and publish with one atomic rename (see
    module docstring for the exact concurrency contract).
    """
    parts = [os.path.abspath(sf_dir), table]
    for t in _TABLES[table][0]:
        p = os.path.join(sf_dir, f"{t}.parquet")
        parts.append(f"{t}:{_path_identity(p)}")
    key = hashlib.sha1(";".join(parts).encode()).hexdigest()[:16]
    return os.path.join(_cache_root(), f"{table}-{key}")


def _complete(path: str) -> bool:
    return os.path.isfile(os.path.join(path, "_SUCCESS"))


def _build_trade_graph(
    spark: SparkSession, sf_dir: str, table: str, path: str
) -> None:
    """Build ``table`` into a staging dir and atomically publish it at
    ``path``.

    Caller holds the table's build lock (when fcntl is available), so a
    leftover incomplete ``path`` here is always a crashed builder's — safe
    to clear. A COMPLETE artifact is never deleted on any path.
    """
    if _complete(path):  # published while we waited for the lock
        return
    if os.path.isdir(path):
        # Incomplete leftover from a crashed builder blocks the publish
        # rename — clear it. (Re-checked complete immediately above; under
        # the lock no other builder can publish between the check and
        # this delete.)
        shutil.rmtree(path, ignore_errors=True)
    stage = f"{path}.stage-{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    _TABLES[table][2](spark, sf_dir).write.parquet(stage)
    try:
        os.rename(stage, path)
    except OSError:
        # Another builder published first (possible only on the no-fcntl
        # fallback path); theirs is complete — use it.
        shutil.rmtree(stage, ignore_errors=True)
        if not _complete(path):
            raise


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

    Materialized once per SOURCE IDENTITY (see :func:`_cache_dir`): later
    calls and later sessions read the completed parquet artifact, while a
    regenerated source — even into the same directory mid-session —
    triggers a rebuild, never a stale read.
    """
    path = _cache_dir(sf_dir, table)
    if not _complete(path):
        if fcntl is not None:
            # Serialize same-host builders: the lock makes the
            # check/clear/build/publish sequence atomic, so a complete
            # artifact can never be deleted out from under a reader.
            with open(f"{path}.lock", "w") as lf:
                fcntl.flock(lf, fcntl.LOCK_EX)
                _build_trade_graph(spark, sf_dir, table, path)
        else:
            _build_trade_graph(spark, sf_dir, table, path)
    return spark.read.schema(_TABLES[table][1]).parquet(path)


# (kind, abspath(sf_dir)) → (source identity, scratch dir, built value):
# one entry per key, replaced on rebuild, so the memo is bounded by the
# number of distinct layouts a session asks for.
_STAGED: dict[tuple[tuple, str], tuple[str, str, object]] = {}
T = TypeVar("T")


def _scratch_dir(prefix: str) -> str:
    """Scratch space for streaming checkpoints/staging: tmpfs when available.

    Local state-store commits fsync per micro-batch; on a disk-backed /tmp
    that IO dominates the small-SF streaming bench (each query pays ~1s of
    pure checkpoint latency). /dev/shm removes it. On a real cluster the
    checkpoint goes to HDFS/S3 and this helper is irrelevant — it only
    shapes the local harness."""
    base = "/dev/shm" if os.access("/dev/shm", os.W_OK) else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def staged(sf_dir: str, tables: tuple[str, ...], kind: tuple,
           build: Callable[[str], T], *, tmpfs: bool = False) -> T:
    """``build(dir)``'s value for a scratch layout staged from ``sf_dir``:
    registered queries run many times per session, and re-staging per call
    redoes the IO and leaks a dir per call.

    ``kind`` is the artifact name plus EVERY build parameter (e.g. ``("xml",
    "events.xml", True)``). The value is reused only while each
    ``{sf_dir}/{t}.parquet`` in ``tables`` keeps its file identity and the
    dir still exists; otherwise ``build`` runs on a fresh ``adw_<name>_``
    dir (under /dev/shm when ``tmpfs``) and replaces the entry.
    """
    key = (kind, os.path.abspath(sf_dir))
    ident = ";".join(
        _path_identity(os.path.join(sf_dir, f"{t}.parquet")) for t in tables)
    hit = _STAGED.get(key)
    if hit is not None and hit[0] == ident and os.path.isdir(hit[1]):
        return hit[2]
    prefix = f"adw_{kind[0]}_"
    base = _scratch_dir(prefix) if tmpfs else tempfile.mkdtemp(prefix=prefix)
    value = build(base)
    _STAGED[key] = (ident, base, value)
    return value
