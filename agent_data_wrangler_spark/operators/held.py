"""Scoped persistence: the one place the engine caches a frame.

Queries and operators run many times in one long-lived session (an agent's
loop of short calls, bench passes, registry sweeps), so every frame a call
caches must be gone when the call returns: zero cache entries leaked per
invocation, or repeated calls accumulate them. :func:`held` ties each
persist to a ``with`` block and unpersists whatever is still kept when the
block exits, on every path (return, raise, a failed job mid-loop)::

    with held() as h:
        per = h.keep(frame)   # persisted until the block exits
        per.count()           # materialize: two consumers read it below
        ...
        return result.localCheckpoint()

The rules the call sites follow:

- Keep a frame that several consumers read (a multi-referenced subtree
  that Catalyst would otherwise re-derive per consumer, or that a broadcast
  subtree would replan from a second full scan). Persist AND materialize
  it (an eager ``count()``) when one action reads it more than once: a
  lazy persist referenced several times inside one action recomputes the
  pipeline before the cache exists. A frame read once per action may stay
  lazy; the first action fills it.
- A result whose plan still reads a kept frame is ``localCheckpoint``-ed
  inside the block, so the caller gets a flat scan that outlives the
  release. A registry query of that kind is declared with
  :func:`checkpointed`. A result that no longer reads a kept frame (an
  already-checkpointed pair set, a driver-side ``createDataFrame``) is
  returned as is.
- :meth:`Held.drop` releases a frame early, once the last job that reads
  it has run, so the cache holds only the live frames.

There is one storage level, MEMORY_AND_DISK: a kept frame spills to disk
instead of recomputing when executor memory runs short.

A kept frame takes AQE-sized partitions, like any uncached shuffle: the
session sets ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``,
so a kept ``groupBy`` over a few KB is cached in one or two partitions, not
``spark.sql.shuffle.partitions`` of them, and every scan of it runs that
many tasks. A numbered ``repartition(n, ...)`` is never coalesced; keep one
when a later join must read the cached layout in place (pagerank's sorted
edges).

What the scope does not bound: a returned ``localCheckpoint`` stays in
``SparkContext.getPersistentRDDs()`` until the caller's frame is
garbage-collected, so a count of those entries after a call moves with GC
timing, not with what the call cached. The leak check is therefore the
cache manager (``sharedState().cacheManager().isEmpty()`` once the caller
has collected), never the persistent-RDD count.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame


class Held:
    """The frames one :func:`held` block keeps cached."""

    def __init__(self) -> None:
        self._kept: list[DataFrame] = []

    def keep(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` until the block exits (or :meth:`drop`); returns it."""
        self._kept.append(df.persist(StorageLevel.MEMORY_AND_DISK))
        return df

    def drop(self, df: DataFrame) -> None:
        """Release ``df`` now instead of at the block's exit."""
        self._kept = [k for k in self._kept if k is not df]
        df.unpersist()


@contextmanager
def held() -> Iterator[Held]:
    """A scope that unpersists every frame it still keeps when it exits."""
    scope = Held()
    try:
        yield scope
    finally:
        for df in scope._kept:
            df.unpersist()


def checkpointed(build: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    """``build(h, *args)`` returns a frame that reads what it kept in the
    scope ``h``; the wrapped ``entry(*args)`` runs it inside a fresh
    :func:`held` block and returns its ``localCheckpoint``, so the caller
    gets a flat scan and nothing stays cached. ``entry.__wrapped__`` is
    ``build``: plan tests call it inside their own block to read the
    working plan that the checkpoint hides."""

    @functools.wraps(build)
    def entry(*args, **kwargs) -> DataFrame:
        with held() as h:
            return build(h, *args, **kwargs).localCheckpoint()

    return entry
