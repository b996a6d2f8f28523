"""Materialized derived tables — the warehouse rollup / materialized-view
pattern, cached per source identity (stable path + session memo).

The three graph queries (gr1 PageRank, tr1 triangle counting, rx1 recursive
reachability) each used to re-derive their edge list from the raw
orders⋈lineitem pair expansion on every invocation, and that distinct-over-
pair-expansion IS their dominant cost: SCALING.md (r09) showed the
sf1→sf10 decade ratio GROWING for exactly these two families (gr1 1.8×→5.0×,
tr1 3.4×→4.9×) while everything else stayed at-most-linear. At 100 TB the
correct design is the standard warehouse one: aggregate the fact-table pair
expansion ONCE into small derived edge tables (|customer-supplier pairs| and
|supplier co-occurrence pairs| are orders of magnitude smaller than
lineitem), materialize them as parquet, and point every graph query at the
rollup. One pass over the 100 TB fact table amortizes across the whole
graph-analytics suite instead of being paid per query — the same
build-once/probe-many contract as the per-session scratch layouts (the
ANN index lanes n10/n11, the export roundtrips, the streaming sources),
which all stage through :func:`staged` below.

Reference parity: the reference agent (`tool_call_agent.py:29-54`) re-runs
its generated pandas from the raw CSV every invocation — at its ≤500-row
scale that is free; this module is the engine-side answer for when it is
not.

Both derived tables come from ONE shared pre-aggregate: the distinct
(l_orderkey, l_suppkey) frame is persisted for the duration of the build,
feeds both outputs, and is unpersisted before returning — so the build
scans lineitem once and orders once, total.

Cache location and concurrency contract:

- the artifact root is PER-USER (uid-suffixed, created 0700) under the
  system temp dir, overridable with ``ADW_CACHE_DIR`` — a shared
  world-writable path would let another user pre-publish a poisoned
  artifact that passes the _SUCCESS completeness check;
- same-host builders serialize on an fcntl lock around the
  check/build/publish critical section, so a complete artifact is NEVER
  deleted (deletion only happens under the lock, after a fresh
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

from agent_data_wrangler_spark.operators.held import held
from agent_data_wrangler_spark.sources.readers import (
    _path_identity,
    read_table,
)

# cache-dir key (which encodes source identity — sf_dir + per-file
# mtime/size, see _cache_dir) → (trade_edges_path, cosupply_pairs_path).
# Memoized per session — registered queries are invoked many times per
# session (plan sweeps, bench min-of-2 passes, full-registry parity runs),
# and the whole point of a rollup is to not rebuild it per consumer.
# Keyed by source IDENTITY, not by sf_dir: regenerating the source tables
# into the same directory mid-session changes the key and triggers a
# rebuild instead of serving the stale rollup.
_TRADE_GRAPH: dict[str, tuple[str, str]] = {}


def _cache_root() -> str:
    """Per-user artifact root (0700), overridable with ADW_CACHE_DIR.

    The uid suffix + 0700 mode keep the cache out of reach of other local
    users: nobody else can pre-create the key dir (EACCES on our publish
    rename) or pre-publish a poisoned artifact that would pass the
    _SUCCESS-only completeness check.
    """
    root = os.environ.get("ADW_CACHE_DIR")
    if not root:
        root = os.path.join(
            tempfile.gettempdir(),
            f"adw_trade_graph_cache-{os.getuid()}")
    os.makedirs(root, mode=0o700, exist_ok=True)
    return root


def _cache_dir(sf_dir: str) -> str:
    """STABLE artifact location, keyed by the source tables' identity.

    A per-session ``mkdtemp`` would orphan a multi-GB copy of the rollup
    in /tmp every session (the memo dies with the process); instead the
    artifact lives at a deterministic path derived from (sf_dir, lineitem
    + orders file-level mtime/size), so (a) later sessions REUSE a
    completed build — the correct steady-state for a materialized view —
    and (b) a changed source gets a new key, never a stale read.
    Completeness is judged by Spark's own _SUCCESS markers in both table
    dirs; builds serialize on an fcntl lock and publish with one atomic
    rename (see module docstring for the exact concurrency contract).
    """
    parts = [os.path.abspath(sf_dir)]
    for t in ("lineitem", "orders"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        parts.append(f"{t}:{_path_identity(p)}")
    key = hashlib.sha1(";".join(parts).encode()).hexdigest()[:16]
    return os.path.join(_cache_root(), key)


def _complete(base: str) -> bool:
    return all(
        os.path.isfile(os.path.join(base, t, "_SUCCESS"))
        for t in ("trade_edges", "cosupply_pairs"))


def _build_trade_graph(
    spark: SparkSession, sf_dir: str, base: str
) -> None:
    """Build both tables into a staging dir and atomically publish.

    Caller holds the build lock (when fcntl is available), so a leftover
    incomplete ``base`` here is always a crashed builder's — safe to
    clear. A COMPLETE base is never deleted on any path.
    """
    if _complete(base):  # published while we waited for the lock
        return
    if os.path.isdir(base):
        # Incomplete leftover from a crashed builder blocks the publish
        # rename — clear it. (Re-checked complete immediately above; under
        # the lock no other builder can publish between the check and
        # this delete.)
        shutil.rmtree(base, ignore_errors=True)
    stage = f"{base}.stage-{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    # r13-opt (the mb1/fi1 rewrite): per-order supplier SETS via one
    # groupBy(collect_set) — the old .distinct() + self-join-on-orderkey
    # shuffled the deduped frame three times; the sorted-array combos
    # generate each s1<s2 pair once, bounded by C(basket, 2).
    with held() as h:
        sets = h.keep(
            read_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_suppkey")
            .groupBy("l_orderkey")
            .agg(F.array_sort(F.collect_set("l_suppkey")).alias("ss"))
        )
        o = read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey")
        (
            sets.select("l_orderkey", F.explode("ss").alias("l_suppkey"))
            .join(o, F.col("l_orderkey") == o["o_orderkey"])
            .select(
                (F.col("o_custkey") * 2).alias("src"),
                (F.col("l_suppkey") * 2 + 1).alias("dst"),
            )
            .distinct()
            .write.parquet(os.path.join(stage, "trade_edges"))
        )
        combos = F.flatten(
            F.transform(
                F.col("ss"),
                lambda x, i: F.transform(
                    F.slice(F.col("ss"), i + F.lit(2), F.size(F.col("ss"))),
                    lambda y: F.struct(x.alias("s1"), y.alias("s2")),
                ),
            )
        )
        (
            sets.select(F.explode(combos).alias("pr"))
            .select("pr.s1", "pr.s2")
            .groupBy("s1", "s2")
            .agg(F.count(F.lit(1)).alias("w"))
            .write.parquet(os.path.join(stage, "cosupply_pairs"))
        )
    try:
        os.rename(stage, base)
    except OSError:
        # Another builder published first (possible only on the no-fcntl
        # fallback path); theirs is complete — use it.
        shutil.rmtree(stage, ignore_errors=True)
        if not _complete(base):
            raise


def trade_graph_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(trade_edges, cosupply_pairs) for the TPC-H-ish trade graph.

    trade_edges: ``(src BIGINT, dst BIGINT)`` — the distinct
    customer→supplier trade pairs from orders⋈lineitem, in gr1's integer
    node encoding (customer 2k, supplier 2k+1: every downstream
    distinct/join/shuffle hashes 8-byte longs, not strings).
    UNSYMMETRIZED — consumers that need the undirected graph union the
    reversed frame themselves (metadata-cheap, and keeping the artifact
    minimal halves its bytes).

    cosupply_pairs: ``(s1 BIGINT, s2 BIGINT, w BIGINT)`` with ``s1 < s2`` —
    supplier co-occurrence counts (number of distinct orders in which both
    suppliers appear), the weighted edge list tr1 thresholds at p90 and
    rx1 walks. The pair expansion fans out C(suppliers_per_order, 2) per
    order — bounded by the max basket (TPC-H ~7 lines), linear in orders,
    never |suppliers|².

    Materialized once per SOURCE IDENTITY (see :func:`_cache_dir` — the
    artifact path is keyed by sf_dir + per-file source mtime/size, and the
    session memo is keyed by that same identity, so later calls AND later
    sessions reuse a completed build, while a regenerated source — even
    into the same directory mid-session — triggers a rebuild, never a
    stale read). Later calls are a parquet footer read. The build keeps
    the shared per-order supplier-set frame cached so lineitem is scanned
    once for both outputs, and releases it on every exit path.
    """
    base = _cache_dir(sf_dir)
    edges_path = os.path.join(base, "trade_edges")
    pairs_path = os.path.join(base, "cosupply_pairs")
    cached = _TRADE_GRAPH.get(base)
    if cached is not None and all(os.path.isdir(p) for p in cached):
        return (spark.read.parquet(cached[0]), spark.read.parquet(cached[1]))

    if not _complete(base):
        if fcntl is not None:
            # Serialize same-host builders: the lock makes the
            # check/clear/build/publish sequence atomic, so a complete
            # artifact can never be deleted out from under a reader.
            lock_path = f"{base}.lock"
            with open(lock_path, "w") as lf:
                fcntl.flock(lf, fcntl.LOCK_EX)
                _build_trade_graph(spark, sf_dir, base)
        else:
            _build_trade_graph(spark, sf_dir, base)
    _TRADE_GRAPH[base] = (edges_path, pairs_path)
    return (spark.read.parquet(edges_path), spark.read.parquet(pairs_path))


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
