"""One-row fit aggregates, run once per source version (SURVEY P7; reference:
system.txt:2 computes ``basic_info`` once, tool_call_agent.py:143-145 forbids
re-exploring).

Every fit-then-transform operator — sigma and MAD bounds, percentile caps,
mean/median/mode fills, the table profile, a pipeline's stage row counts —
collects a tiny aggregate on the driver and bakes it into the plan as
literals. :func:`collect_fit` serves a repeat of the same fit on unchanged
sources from a bounded in-process memo instead of re-running the Spark job.
Repeats come from two places: different queries fitting the same thing on
the same table (pl2 re-runs pl1's spec, so two of its fits repeat pl1's),
and the same call made again on the same sources.

An entry is served only when all of these hold:

- the new frame's optimized logical plan ``sameResult``s the entry's plan
  (``semanticHash`` picks the bucket; a bucket holds one entry);
- both come from the same, still living, SparkSession object;
- the frame reads the same files as the entry, each with the same
  ``readers._path_identity`` (mtime, size) fingerprint, so an in-place
  source rewrite re-runs the fit.

Otherwise the action runs and replaces the bucket's entry. A frame is never
memoized when its optimized plan is non-deterministic, when one of its
leaves is not a file ``LogicalRelation``, a ``LocalRelation`` or a
``OneRowRelation`` (RDD-backed, cached, DSv2 and Python data sources,
``Range``, streaming), or when it reads a non-local path. The key is the
OPTIMIZED plan: the optimizer folds ``current_timestamp()`` into a literal,
so two calls never share a key, while the analyzed plan would report it as
deterministic and match.

What an entry holds: the collected rows, the file fingerprint, a weak
reference to the session (the memo never keeps a stopped session alive, and
an entry whose session is gone is dropped at the next insert) and a py4j
handle to the optimized JVM plan, which ``sameResult`` needs. That handle
pins the plan in the driver JVM, and a ``LocalRelation`` leaf carries its
rows, so a fit over a ``createDataFrame`` input keeps that input in the JVM
until the entry is evicted. The bound is :data:`CAPACITY` entries, not
bytes.
"""

from __future__ import annotations

import threading
import weakref
from collections import OrderedDict
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, Row

from agent_data_wrangler_spark.sources.readers import _path_identity

#: Most fits a session keeps; the least recently used one goes first.
CAPACITY = 256

_LOGICAL_RELATION = "org.apache.spark.sql.execution.datasources.LogicalRelation"
_FILE_RELATION = "org.apache.spark.sql.execution.datasources.HadoopFsRelation"
_LOCAL_LEAVES = frozenset({
    "org.apache.spark.sql.catalyst.plans.logical.LocalRelation",
    "org.apache.spark.sql.catalyst.plans.logical.OneRowRelation",
})

#: semanticHash → (weakref to the session, optimized plan, file fingerprint,
#: rows).
_MEMO: OrderedDict[int, tuple] = OrderedDict()
_LOCK = threading.Lock()


def _memoizable(plan) -> bool:
    if plan.isStreaming() or not plan.deterministic():
        return False
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        cls = leaf.getClass().getName()
        if cls == _LOGICAL_RELATION:
            if leaf.relation().getClass().getName() != _FILE_RELATION:
                return False
        elif cls not in _LOCAL_LEAVES:
            return False
    return True


def _fingerprint(df: DataFrame) -> tuple | None:
    """((path, identity), ...) of every file the frame reads; None when one
    is not a local file or has gone."""
    out = []
    for uri in df.inputFiles():
        u = urlparse(uri)
        if u.scheme != "file":
            return None
        path = unquote(u.path)
        try:
            out.append((path, _path_identity(path)))
        except OSError:
            return None
    return tuple(sorted(out))


def collect_fit(df: DataFrame) -> list[Row]:
    """``df.collect()`` for a small deterministic fit frame (a global
    aggregate, or a ``limit(1)``), served from the memo while its plan and
    source files are unchanged."""
    plan = df._jdf.queryExecution().optimizedPlan()
    files = _fingerprint(df) if _memoizable(plan) else None
    if files is None:
        return df.collect()
    key = plan.semanticHash()
    session = df.sparkSession
    with _LOCK:
        hit = _MEMO.get(key)
        if (hit is not None and hit[0]() is session and hit[2] == files
                and hit[1].sameResult(plan)):
            _MEMO.move_to_end(key)
            return list(hit[3])
    rows = df.collect()
    with _LOCK:
        for gone in [k for k, entry in _MEMO.items() if entry[0]() is None]:
            del _MEMO[gone]
        _MEMO[key] = (weakref.ref(session), plan, files, rows)
        _MEMO.move_to_end(key)
        while len(_MEMO) > CAPACITY:
            _MEMO.popitem(last=False)
    return list(rows)
