"""Distributed iterative graph algorithms (PageRank family).

Reference parity: the reference agent (`tool_call_agent.py:29-54`) can emit
arbitrary pandas scripts, including iterative ones; this module is the
engine-side reification of its iterative-graph reach, designed for Spark's
execution model instead of a driver loop over a single frame.

Scale design (the same contract as ``dedup.connected_components``):

- the edge+out-degree frame is built ONCE and persisted — every iteration
  joins the cache against the |N|-sized rank frame (broadcast when it fits,
  which moves ZERO edge bytes; AQE shuffle join when it doesn't), so the
  per-iteration cost is the map-side-combined ``groupBy(dst)``;
- the rank frame ``localCheckpoint``s on a bounded cadence, keeping lineage
  flat (no unbounded plan growth, no checkpoint directory needed);
- convergence is an explicit L1-delta test with a ``max_iter`` guard that
  RAISES on non-convergence — a partially-converged rank vector is a wrong
  answer and is never returned silently (mirrors ``dedup.py`` cc contract);
- dangling mass (nodes with no out-edges) is redistributed along the
  teleport vector each iteration via a 1-row aggregate broadcast — the
  textbook correction, so ranks always sum to 1 and directed graphs are
  handled exactly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from agent_data_wrangler_spark.operators.held import Held, held


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    damping: float = 0.85,
    teleport: float | None = None,
    weight_col: str | None = None,
    source_nodes: Sequence | None = None,
    num_iters: int | None = None,
    tol: float | None = None,
    max_iter: int = 40,
    broadcast_max_nodes: int | None = None,
) -> DataFrame:
    """PageRank over a directed edge list → ``(node, r)`` with Σr = 1.

    The returned DataFrame additionally carries ``pagerank_n_nodes``
    (float |N|) as a Python attribute — the node count the operator
    already paid for, for callers that scale ranks by N.

    Exactly one stopping rule must be chosen:

    - ``num_iters=k``: k exact power iterations (deterministic, oracle-
      replayable — what gr1 uses so DuckDB can unroll the same three steps);
    - ``tol=eps``: iterate until the L1 delta between successive rank
      vectors drops below ``eps``, raising ``RuntimeError`` if ``max_iter``
      iterations don't get there (never returns partial ranks silently).

    Variants (compose freely):

    - ``weight_col``: WEIGHTED PageRank — each edge contributes
      ``r(src) · w / Σw(src)`` instead of ``r(src) / out_degree(src)``.
      Weights must be strictly positive (a zero/negative weight makes the
      transition matrix non-stochastic and is raised on, not normalized
      away); NULL-weight edges are dropped with the NULL-endpoint rule.
    - ``source_nodes``: PERSONALIZED PageRank (random walk with restart) —
      the teleport vector concentrates uniformly on the given nodes instead
      of all of N, ranks answer "importance relative to these sources"
      (trust-rank / recommendation semantics). The list is driver-side and
      must be small (personalization sets are; for a distributed reset
      vector you want a different operator). Every source must exist in the
      graph — a missing source would silently leak teleport mass, so it
      raises instead. Dangling mass is redistributed along the SAME vector,
      keeping Σr = 1 exactly. Iterations start from the teleport vector
      (the standard RWR init) rather than uniform.

    Parallel edges are kept (they weight the contribution, as in the
    classic formulation over a multigraph); pre-``distinct()`` the edge
    frame for simple-graph semantics.

    ``teleport`` is the total teleport probability, default ``1.0 -
    damping``. Pass it explicitly when an external oracle unrolls the same
    iterations from a literal: IEEE-wise ``1.0 - 0.85 ==
    0.15000000000000002 != 0.15``, and after a few iterations that last-bit
    difference can flip a round(·, 6) boundary (gr1 pins ``teleport=0.15``
    to stay bit-compatible with its SQL twin).

    ``broadcast_max_nodes`` picks the iteration-join strategy (r10: the
    docstring's "broadcast when ranks fit" never actually fired beyond toy
    scale — Spark's 10 MB autoBroadcast default is far below any real rank
    frame, so at sf10 every iteration SortMergeJoined 117M edges,
    re-shuffling AND re-sorting the whole edge frame per step):

    - ``n_nodes <= broadcast_max_nodes``: the rank frame is EXPLICITLY
      broadcast into the iteration join — zero edge bytes move, the
      per-step cost is the map-side-combined groupBy(dst). Broadcasting
      collects the rank frame to the DRIVER each iteration, so the
      default (``None``) derives the guard from the session's
      ``spark.driver.memory`` / ``spark.driver.maxResultSize`` at ~64
      driver-side bytes per (BIGINT, DOUBLE) rank row, capped at 10M
      nodes (~240 MB executor-side broadcast): a default-1g driver gets
      a ~2M-node guard instead of the flat 10M that could OOM it where
      the old SMJ plan merely ran slower. The estimate assumes COMPACT
      node ids — callers with wide string ids should pass a
      proportionally smaller guard; the sorted-edge path below handles
      any size.
    - an explicit integer overrides the derivation entirely.
    - above the guard: the edge frame is re-persisted hash-partitioned AND
      sorted on ``src``, so the per-iteration sort-merge join reuses the
      cached layout (no exchange, no sort on the |E| side) and only the
      |N|-sized rank frame shuffles per step — the one-extra-build-pass
      trade that makes iteration cost O(|N| shuffle), not O(|E| sort).
    """
    if (num_iters is None) == (tol is None):
        raise ValueError(
            "pagerank: specify exactly one of num_iters (fixed power "
            "iterations) or tol (L1 convergence threshold)")
    tp = (1.0 - damping) if teleport is None else teleport
    # NULL endpoints are dropped, not propagated: a NULL dst would otherwise
    # enter the node universe as a phantom node holding teleport mass
    # (breaking Σr = 1) while never matching any join key.
    cols = [F.col(src).alias("src"), F.col(dst).alias("dst")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("double").alias("w"))
    e = edges.select(*cols).na.drop()
    if weight_col is None:
        e = e.withColumn("w", F.lit(1.0))
    else:
        bad = e.agg(F.min("w").alias("mn")).first()["mn"]
        if bad is not None and bad <= 0.0:
            raise ValueError(
                f"pagerank: weight_col {weight_col!r} contains a "
                f"non-positive weight ({bad}) — the transition matrix must "
                "be stochastic; filter or re-scale weights upstream")
    deg = e.groupBy("src").agg(F.sum("w").alias("d"))
    # No repartition HERE: the iteration-join layout decision needs |N|,
    # which is only known after the node universe is counted — see the
    # broadcast_max_nodes strategy switch in _pagerank_body.
    # Every exit path (the empty-graph raise, the source_nodes validation
    # raises, a step() job failing mid-loop, non-convergence) releases
    # exactly the build frames kept so far.
    with held() as h:
        edges_deg = h.keep(e.join(deg, "src"))
        return _pagerank_body(
            h, edges_deg, tp=tp, damping=damping,
            source_nodes=source_nodes, num_iters=num_iters, tol=tol,
            max_iter=max_iter, broadcast_max_nodes=broadcast_max_nodes)


def _size_conf_bytes(value: str) -> int:
    """Spark size-string → bytes ("512m", "2g", "1t"; optional trailing
    'b'). Unsuffixed values are read as MiB — the JVM-memory convention
    Spark's own docs use for these confs."""
    s = value.strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(float(s)) << 20


def _derived_broadcast_guard(spark: SparkSession) -> int:
    """Runtime default for ``pagerank(broadcast_max_nodes=...)``.

    Broadcasting the rank frame collects it to the driver every
    iteration, so the safe ceiling depends on the DRIVER, not the data:
    budget = min(driver memory / 8, maxResultSize / 2), at ~64 driver-side
    bytes per (BIGINT, DOUBLE) rank row (row object + broadcast-relation
    overhead), capped at 10M nodes (~240 MB serialized broadcast). A
    default-1g driver derives ~2M nodes; maxResultSize=0 (unlimited)
    drops that constraint. (ADVICE r10: a flat 10M default could OOM a
    small driver where the pre-r10 SMJ plan merely ran slower.)
    """
    conf = spark.conf
    mem = _size_conf_bytes(conf.get("spark.driver.memory", "1g"))
    budget = mem // 8
    max_result = _size_conf_bytes(
        conf.get("spark.driver.maxResultSize", "1g"))
    if max_result > 0:
        budget = min(budget, max_result // 2)
    return min(10_000_000, max(budget // 64, 1))


def _pagerank_body(
    h: Held,
    edges_deg: DataFrame,
    *,
    tp: float,
    damping: float,
    source_nodes: Sequence | None,
    num_iters: int | None,
    tol: float | None,
    max_iter: int,
    broadcast_max_nodes: int | None,
) -> DataFrame:
    """Everything after the first persist — runs inside pagerank's held
    scope, so every raise or return releases the frames kept in ``h``."""
    if broadcast_max_nodes is None:
        broadcast_max_nodes = _derived_broadcast_guard(
            edges_deg.sparkSession)
    # Node universe = src ∪ dst, each node flagged with whether it has an
    # out-edge (a dst-only node is a dangling node: it holds rank and must
    # receive the base + dangling terms each round). One aggregate over
    # the kept universe gives both |N| and the dangling count: the setup
    # is one job, and the node set is static, so the dangling set is
    # never re-derived inside the loop.
    nodes = h.keep(
        edges_deg.select(F.col("src").alias("node"), F.lit(1).alias("out"))
        .unionByName(
            edges_deg.select(F.col("dst").alias("node"), F.lit(0).alias("out")))
        .groupBy("node")
        .agg(F.max("out").alias("out"))
    )
    stats = nodes.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("out") == 0, 1)).alias("dangling"),
    ).first()
    n_nodes = float(stats["n"])
    if n_nodes == 0:
        raise ValueError(
            "pagerank: graph has no edges — PageRank over an empty node set "
            "is undefined")

    # Teleport vector t(v): uniform 1/N, or uniform over source_nodes for
    # the personalized walk. A per-row Column expression — never a join.
    if source_nodes is not None:
        srcs = sorted(set(source_nodes))
        if not srcs:
            raise ValueError("pagerank: source_nodes must be non-empty")
        present = nodes.filter(F.col("node").isin(srcs)).count()
        if present != len(srcs):
            raise ValueError(
                f"pagerank: {len(srcs) - present} of {len(srcs)} "
                "source_nodes are not in the graph — teleport mass would "
                "silently leak; fix the source list")
        tvec: Column = F.when(
            F.col("node").isin(srcs), F.lit(1.0 / len(srcs))
        ).otherwise(F.lit(0.0))
    else:
        tvec = F.lit(1.0 / n_nodes)

    # On a symmetrized graph (gr1) or any graph where every node has
    # out-edges, the DANGLING set (nodes with no out-edges) is EMPTY and the
    # dangle term is dropped from the update entirely: the term's 1-row
    # broadcast re-executes the previous iteration's lineage as a broadcast
    # subtree in fused (un-checkpointed) step chains, which is quadratic in
    # fused-iteration count — measurable 3x on gr1 — for a value that is
    # identically zero.
    has_dangling = stats["dangling"] > 0
    dangling = nodes.filter(F.col("out") == 0).select("node")

    # Iteration-join strategy (see pagerank docstring). Spark's own
    # autoBroadcast threshold (10 MB default) is far below any real rank
    # frame, so the broadcast must be EXPLICIT; above the guard, pay one
    # extra build pass to re-persist the edge frame hash-partitioned and
    # sorted on src — every iteration's sort-merge join then reuses the
    # cached layout (no |E| exchange, no |E| sort) and only the rank frame
    # shuffles.
    broadcast_ranks = n_nodes <= broadcast_max_nodes
    if not broadcast_ranks:
        # A NUMBERED repartition: AQE coalesces a kept frame's unnumbered
        # one, and the rank side's default-sized shuffle would then no
        # longer match the cached layout, re-shuffling |E| per step.
        n_parts = int(edges_deg.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"))
        iter_edges = h.keep(
            edges_deg.repartition(n_parts, "src").sortWithinPartitions("src")
        )
        iter_edges.count()  # materialize, then drop the unsorted copy
        h.drop(edges_deg)
    else:
        iter_edges = edges_deg

    ranks = nodes.select("node", tvec.alias("r")) \
        if source_nodes is not None else \
        nodes.select("node", (F.lit(1.0) / F.lit(n_nodes)).alias("r"))

    def step(r: DataFrame) -> DataFrame:
        rr = F.broadcast(r) if broadcast_ranks else r
        # One groupBy over the contributions plus a zero row per node: a
        # node nobody links to still gets its base term, with no per-step
        # join against the node set (x + 0.0 == x, so sums are unchanged).
        out = (
            iter_edges.join(rr, iter_edges["src"] == rr["node"])
            .select(F.col("dst").alias("node"),
                    (F.col("r") * F.col("w") / F.col("d")).alias("c"))
            .unionByName(nodes.select("node", F.lit(0.0).alias("c")))
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        mass = F.col("c")
        # Uniform case keeps the LITERAL tp/n and dm/n forms — tp*(1/n) is
        # not IEEE-identical to tp/n, and gr1's oracle unrolls the /n form.
        if has_dangling:
            # Dangling mass: rank held by nodes with no out-edges, spread
            # along the teleport vector. 1-row aggregate → broadcast.
            dangle = (
                r.join(dangling, "node", "semi")
                .agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("dm"))
            )
            out = out.crossJoin(F.broadcast(dangle))
            mass = mass + (
                F.col("dm") * tvec if source_nodes is not None
                else F.col("dm") / F.lit(n_nodes))
        base = (F.lit(tp) * tvec if source_nodes is not None
                else F.lit(tp / n_nodes))
        return out.select(
            "node", (base + F.lit(damping) * mass).alias("r"))

    # Checkpoint cadence: materializing EVERY iteration costs one Spark job
    # per step (3x slower for gr1's 3-iteration run); never checkpointing
    # grows the lineage tower without bound. Dangling-free graphs fuse 5
    # steps per checkpoint (plan depth stays bounded, steps in between
    # compile into one job); dangling graphs checkpoint every step, because
    # the dangle broadcast would otherwise re-execute the un-checkpointed
    # prefix quadratically. The FINAL frame is always eagerly checkpointed
    # so consumers get a flat ExistingRDD scan instead of re-running the
    # whole loop per action.
    # The returned frame is an eagerly-materialized localCheckpoint (an
    # ExistingRDD scan) that no longer depends on the kept build frames,
    # so pagerank's scope releases them before returning.
    # The operator already paid the node-count job, so the result frame
    # carries it as a plain Python attribute (``pagerank_n_nodes``) —
    # callers that need N for scaling (gr1's rank*N display) reuse it
    # instead of re-counting the checkpointed frame (one job saved per
    # call). An attribute rather than an extra column: N is a scalar
    # property of the run, not per-row data, and a constant column would
    # change the result schema of every caller.
    if num_iters is not None:
        interval = 1 if has_dangling else 5
        for i in range(num_iters):
            ranks = step(ranks)
            if (i + 1) % interval == 0 and (i + 1) < num_iters:
                ranks = ranks.localCheckpoint()
        final = ranks.localCheckpoint()
        final.pagerank_n_nodes = n_nodes
        return final

    for _ in range(max_iter):
        prev = ranks
        # Lazy checkpoint: the delta aggregate below is the action that
        # materializes it — one job per iteration, not two, and lineage
        # still truncates at every step.
        ranks = step(prev).localCheckpoint(eager=False)
        delta = (
            ranks.join(prev.withColumnRenamed("r", "r_prev"), "node")
            .agg(F.sum(F.abs(F.col("r") - F.col("r_prev"))).alias("l1"))
            .first()["l1"]
        )
        if delta is not None and delta < tol:
            # The delta aggregate above already materialized this step's
            # lazy checkpoint, so the returned frame is lineage-free and
            # survives the scope's release.
            ranks.pagerank_n_nodes = n_nodes
            return ranks
    raise RuntimeError(
        f"pagerank did not converge to L1 delta < {tol} within "
        f"{max_iter} iterations — raise max_iter or loosen tol; "
        "partial ranks are a wrong answer and are never returned "
        "silently")
