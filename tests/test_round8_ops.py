"""Round-8 additions: PQ pre-encoded reuse + param guards, hq1 two-stage
merge, PageRank convergence operator, oracle negative control."""

import pytest
from pyspark.sql import functions as F


def _toy_vectors(spark, n=40, dim=8):
    import math

    rows = []
    for i in range(n):
        v = [math.sin(0.7 * i + 1.3 * j) for j in range(dim)]
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_derive_pq_params_rejects_bad_dim():
    from agent_data_wrangler_spark.operators.similarity import derive_pq_params

    with pytest.raises(ValueError, match="dim must be >= 1"):
        derive_pq_params(100, 0)
    with pytest.raises(ValueError, match="dim must be >= 1"):
        derive_pq_params(100, -3)


def test_pq_topk_reuses_preencoded_codes(spark):
    """A frame that already carries __pq_code must (a) be scored without
    re-encoding and (b) return the same top-k as the encode-from-scratch
    path with the same codebooks."""
    from agent_data_wrangler_spark.operators import similarity

    df = _toy_vectors(spark)
    books = similarity.pq_fit_codebooks(df, "embedding", m=4, ksub=8)
    q = [0.9, -0.2, 0.4, 0.1, -0.6, 0.3, 0.8, -0.1]

    fresh = similarity.topk_cosine_pq(
        df, "embedding", q, k=5, codebooks=books, m=4, ksub=8, shortlist=15,
        payload_cols=["vec_id"])
    pre = df.withColumn("__pq_code", similarity.pq_encode("embedding", books))
    reused = similarity.topk_cosine_pq(
        pre, "embedding", q, k=5, codebooks=books, m=4, ksub=8, shortlist=15,
        payload_cols=["vec_id"])

    assert [tuple(r) for r in fresh.collect()] == \
        [tuple(r) for r in reused.collect()]
    # the reused plan must not contain a second encode (the encode expression
    # is a deeply nested array<...> constructor; the pre-encoded plan scores
    # __pq_code directly, so its analyzed plan never references pq encode's
    # per-sub-vector aggregate lambda on the embedding column)
    plan = reused._jdf.queryExecution().analyzed().toString()
    assert plan.count("__pq_code") >= 1


def test_pq_topk_preencoded_without_codebooks_raises(spark):
    from agent_data_wrangler_spark.operators import similarity

    df = _toy_vectors(spark)
    books = similarity.pq_fit_codebooks(df, "embedding", m=4, ksub=8)
    pre = df.withColumn("__pq_code", similarity.pq_encode("embedding", books))
    with pytest.raises(ValueError, match="pre-encoded __pq_code"):
        similarity.topk_cosine_pq(pre, "embedding", [1.0] * 8, k=3)


def test_hq1_daily_partials_merge_to_weekly(spark, sf_dir):
    """The two-stage sketch (day partials -> week merge) must equal the
    single-stage week grouping — count merge is associative."""
    from pyspark.sql import Window

    from agent_data_wrangler_spark.queryset import QUERIES
    from agent_data_wrangler_spark.sources.readers import read_table

    got = QUERIES["hq1_histogram_median_rollup_orders"](spark, sf_dir)

    o = read_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    direct = o.groupBy(
        F.date_trunc("week", F.col("o_orderdate")).cast("date").alias("wk"),
        F.floor(cents / 10000).cast("bigint").alias("bin"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    w_cum = Window.partitionBy("wk").orderBy("bin")
    w_tot = Window.partitionBy("wk")
    expect = (
        direct.select(
            "wk", "bin",
            F.sum("cnt").over(w_cum).alias("cum"),
            F.sum("cnt").over(w_tot).alias("total"))
        .groupBy("wk")
        .agg((F.min(F.when(F.col("cum") * 2 >= F.col("total"), F.col("bin")))
              * 100).cast("bigint").alias("median_bin_dollars"),
             F.max("total").cast("bigint").alias("n_orders"))
    )
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, expect.collect()))


def test_pagerank_fixed_equals_converged_on_trade_graph(spark, sf_dir):
    """On the testdata trade graph, enough fixed iterations and the
    tolerance-stop mode must agree (same fixed point), and ranks sum to 1."""
    from agent_data_wrangler_spark.operators.graph import pagerank
    from agent_data_wrangler_spark.sources.readers import read_table

    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey")
    e0 = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
                F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"))
        .distinct())
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    # damping 0.5 so the power iteration contracts by ~0.5/step — 30 fixed
    # steps sit at the fixed point to ~1e-9 and the tol mode converges in
    # ~20 steps (at 0.85 a bipartite graph needs 120+ steps for 1e-9,
    # which is pure test wall-clock without testing anything extra).
    fixed = {r["node"]: r["r"]
             for r in pagerank(edges, damping=0.5, num_iters=30).collect()}
    conv = {r["node"]: r["r"]
            for r in pagerank(edges, damping=0.5, tol=1e-8,
                              max_iter=40).collect()}
    assert set(fixed) == set(conv)
    assert abs(sum(fixed.values()) - 1.0) < 1e-6
    assert abs(sum(conv.values()) - 1.0) < 1e-6
    assert max(abs(fixed[n] - conv[n]) for n in fixed) < 1e-6


def test_pagerank_dangling_and_guards(spark):
    """A 3-node chain a->b->c: c is dangling; exact closed-form fixed point
    must hold and rank mass must stay 1. Bad stopping rules raise."""
    import pytest as _pytest

    from agent_data_wrangler_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string")
    got = {r["node"]: r["r"]
           for r in pagerank(edges, tol=1e-12, max_iter=100).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # fixed point: r_a = base + d*dm/3 ; r_b = base + d*(r_a + dm/3) ;
    # r_c = base + d*(r_b + dm/3) with dm = r_c (the dangling node).
    d, n = 0.85, 3.0
    ra, rb, rc = got["a"], got["b"], got["c"]
    base = (1 - d) / n
    assert abs(ra - (base + d * rc / n)) < 1e-9
    assert abs(rb - (base + d * (ra + rc / n))) < 1e-9
    assert abs(rc - (base + d * (rb + rc / n))) < 1e-9

    with _pytest.raises(ValueError, match="exactly one"):
        pagerank(edges)
    with _pytest.raises(ValueError, match="exactly one"):
        pagerank(edges, num_iters=3, tol=1e-6)
    with _pytest.raises(RuntimeError, match="did not converge"):
        pagerank(edges, tol=1e-15, max_iter=1)


def test_pagerank_join_strategies_bit_identical(spark):
    """r10: the iteration join has two physical strategies — explicit rank
    broadcast (n_nodes <= broadcast_max_nodes) vs pre-sorted co-partitioned
    edges (above the guard). Both must produce BIT-IDENTICAL ranks (same
    float operation order per node: the sum re-orders only across
    partitions of the same groupBy, which Spark's sum makes deterministic
    here via the same partitioning), and both must clean up every persist
    — the sorted path adds a fourth build frame to the ledger."""
    from pyspark.sql import functions as F

    from agent_data_wrangler_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
        "src string, dst string")
    spark.catalog.clearCache()
    via_broadcast = {
        r["node"]: r["r"]
        for r in pagerank(edges, num_iters=4).collect()}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    via_sorted = {
        r["node"]: r["r"]
        for r in pagerank(edges, num_iters=4,
                          broadcast_max_nodes=0).collect()}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert via_broadcast == via_sorted  # exact equality, not approx

    # tol mode through the sorted path: converges and cleans up too.
    conv = pagerank(edges, damping=0.5, tol=1e-8, max_iter=60,
                    broadcast_max_nodes=0)
    assert abs(sum(r["r"] for r in conv.collect()) - 1.0) < 1e-9
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pagerank_sorted_edges_keep_their_layout(spark, monkeypatch):
    """Above the broadcast guard the edge frame is kept hash-partitioned and
    sorted on src so each step's join reads it in place: the iteration join
    must have no shuffle on the edge side, even though AQE may coalesce
    the kept frames around it."""
    from agent_data_wrangler_spark.operators.graph import pagerank

    # A cycle: no dangling node, so the step holds exactly one edge join.
    edges = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "src bigint, dst bigint")
    plans = []
    checkpoint = type(edges).localCheckpoint

    def spy(self, *args, **kwargs):
        out = checkpoint(self, *args, **kwargs)
        plans.append(self._jdf.queryExecution().executedPlan())
        return out

    monkeypatch.setattr(type(edges), "localCheckpoint", spy)
    # Ranks too big to broadcast, as broadcast_max_nodes=0 declares: AQE
    # must not turn the iteration join into a broadcast at runtime either.
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        pagerank(edges, num_iters=1, broadcast_max_nodes=0).collect()
    finally:
        spark.conf.set(key, prev)

    def walk(node):
        # A finished query stage holds its subtree as ``plan``, not as a
        # child; a cached scan's plan is not walked (its layout is the point).
        yield node
        kids = node.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i))
        if node.nodeName().endswith("QueryStage"):
            yield from walk(node.plan())

    final = plans[-1].executedPlan()  # the finished adaptive plan
    joins = [n for n in walk(final) if "Join" in n.nodeName()]
    assert len(joins) == 1, final.toString()
    edge_side = joins[0].left()
    assert "dst" in edge_side.output().toString(), final.toString()
    shuffles = [n.nodeName() for n in walk(edge_side)
                if n.nodeName() in ("Exchange", "ShuffleQueryStage",
                                    "AQEShuffleRead")]
    assert not shuffles, final.toString()


def test_pagerank_error_paths_unpersist_build_frames(spark):
    """r09 ADVICE: the empty-graph and source_nodes validation raises fire
    AFTER build frames are persisted — every such exit must still run the
    unpersist ledger, or repeated failing calls strand cache entries."""
    import pytest as _pytest

    from agent_data_wrangler_spark.operators.graph import pagerank

    spark.catalog.clearCache()
    # Empty graph: edges_deg + nodes are persisted before the raise.
    empty = spark.createDataFrame([], "src string, dst string")
    with _pytest.raises(ValueError, match="no edges"):
        pagerank(empty, num_iters=1)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    # Missing personalization source: raises after all three persists.
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string")
    with _pytest.raises(ValueError, match="not in the graph"):
        pagerank(edges, source_nodes=["zzz"], num_iters=1)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    # Empty source list: same persisted-before-raise window.
    with _pytest.raises(ValueError, match="non-empty"):
        pagerank(edges, source_nodes=[], num_iters=1)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    # Non-convergence: the RuntimeError path must also clean up. The
    # symmetric 2-cycle is already at its fixed point, so use the dangling
    # chain (slow mixing) to force the max_iter raise.
    chain = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string")
    with _pytest.raises(RuntimeError, match="did not converge"):
        pagerank(chain, tol=1e-15, max_iter=1)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pagerank_drops_null_endpoints(spark):
    """NULL src/dst must not become a phantom node: rank mass still sums
    to 1 over the non-null graph."""
    from agent_data_wrangler_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), (None, "a"), ("b", None)],
        "src string, dst string")
    got = {r["node"]: r["r"] for r in pagerank(edges, num_iters=5).collect()}
    assert set(got) == {"a", "b"}
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_connected_components_drops_null_ids(spark):
    """A pair with a NULL side must not crash the driver union-find nor
    bridge unrelated components through a phantom null node (both paths)."""
    from agent_data_wrangler_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (3, None), (None, 4)],
        "id_a bigint, id_b bigint")
    for kwargs in ({}, {"local_edge_limit": 0}):
        got = {r["id"]: r["component_id"]
               for r in dedup.connected_components(pairs, **kwargs).collect()}
        assert got == {1: 1, 2: 1}, (kwargs, got)


def test_pagerank_weighted_matches_numpy(spark):
    """Weighted PageRank on a fixed 4-node graph vs a from-scratch numpy
    power iteration with w/Σw transitions; non-positive weights raise."""
    import numpy as np
    import pytest as _pytest

    from agent_data_wrangler_spark.operators.graph import pagerank

    es = [("a", "b", 3.0), ("a", "c", 1.0), ("b", "c", 2.0),
          ("c", "a", 1.0), ("c", "d", 1.0), ("d", "a", 5.0)]
    df = spark.createDataFrame(es, "src string, dst string, w double")
    got = {r["node"]: r["r"]
           for r in pagerank(df, weight_col="w", num_iters=20).collect()}

    nodes = ["a", "b", "c", "d"]
    idx = {n: i for i, n in enumerate(nodes)}
    out_w = {n: sum(w for s, _, w in es if s == n) for n in nodes}
    r = np.full(4, 0.25)
    d = 0.85
    for _ in range(20):
        nxt = np.full(4, (1 - d) / 4)
        for s, t, w in es:
            nxt[idx[t]] += d * r[idx[s]] * w / out_w[s]
        r = nxt
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for n in nodes:
        assert abs(got[n] - r[idx[n]]) < 1e-9, n

    bad = spark.createDataFrame(
        [("a", "b", 0.0)], "src string, dst string, w double")
    with _pytest.raises(ValueError, match="non-positive weight"):
        pagerank(bad, weight_col="w", num_iters=1)


def test_pagerank_personalized_concentrates_on_sources(spark):
    """Personalized PageRank: teleport mass restricted to the source set —
    closed-form check on a 4-node chain vs numpy, Σr = 1, and a missing
    source raises instead of leaking mass."""
    import numpy as np
    import pytest as _pytest

    from agent_data_wrangler_spark.operators.graph import pagerank

    es = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    df = spark.createDataFrame(es, "src string, dst string")
    got = {r["node"]: r["r"]
           for r in pagerank(df, source_nodes=["a"],
                             tol=1e-12, max_iter=200).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # numpy RWR fixed point
    nodes = ["a", "b", "c", "d"]
    idx = {n: i for i, n in enumerate(nodes)}
    t = np.array([1.0, 0.0, 0.0, 0.0])
    r = t.copy()
    d = 0.85
    for _ in range(500):
        nxt = 0.15 * t
        for s, x in es:
            nxt[idx[x]] += d * r[idx[s]]
        r = nxt
    for n in nodes:
        assert abs(got[n] - r[idx[n]]) < 1e-9, n
    # the restart node dominates its antipode
    assert got["a"] > got["c"]

    with _pytest.raises(ValueError, match="not in the graph"):
        pagerank(df, source_nodes=["a", "zzz"], num_iters=2)
    with _pytest.raises(ValueError, match="non-empty"):
        pagerank(df, source_nodes=[], num_iters=2)


def test_avro_lane_detection_gated(spark):
    """spark-avro registers only where the module is deployed: on plain-pip
    runtimes the probe is False, av1 is absent from the registry, and
    read_avro raises a NAMED error instead of an AnalysisException."""
    from agent_data_wrangler_spark import queryset
    from agent_data_wrangler_spark.sources.readers import (
        avro_supported,
        read_avro,
    )

    jar_probe = avro_supported()
    live_probe = avro_supported(spark)
    assert jar_probe == live_probe  # jar scan and live resolution agree here
    assert ("av1_avro_roundtrip_events" in queryset.QUERIES) == jar_probe
    if not jar_probe:
        with pytest.raises(RuntimeError, match="spark-avro module"):
            read_avro(spark, "/tmp/nonexistent.avro")
        pytest.skip("spark-avro absent — lane correctly gated off; rerun "
                    "on a cluster with spark.jars.packages deployed")


def test_avro_probe_error_classification(caplog):
    """r09 ADVICE: the live probe must recognize the path-error FAMILY
    (condition name, bracket form in the message, classic prose, or an
    AnalysisException echoing the probe path) as 'module deployed', and
    must LOG any unrecognized error before defaulting to unsupported —
    a reworded path error must not silently disable a working lane."""
    import logging

    from pyspark.errors import AnalysisException

    from agent_data_wrangler_spark.sources.readers import avro_supported

    class _StubReader:
        def __init__(self, exc):
            self._exc = exc

        def format(self, *_):
            return self

        def schema(self, *_):
            return self

        def load(self, *_):
            raise self._exc

    class _StubSpark:
        def __init__(self, exc):
            self.read = _StubReader(exc)

    def probe(exc):
        return avro_supported(_StubSpark(exc))

    # Module absent: stable condition string anywhere → unsupported.
    assert probe(Exception("[DATA_SOURCE_NOT_FOUND] avro")) is False
    # Path-error family → supported, in every spelling.
    assert probe(Exception("[PATH_NOT_FOUND] Path does not exist")) is True
    assert probe(Exception("Path does not exist: /nonexistent")) is True
    assert probe(
        AnalysisException("weird new wording /nonexistent/__avro_probe__")
    ) is True
    # Unrecognized error → unsupported, but LOGGED for diagnosis.
    with caplog.at_level(logging.WARNING):
        assert probe(Exception("totally novel failure")) is False
    assert any("unrecognized" in r.message for r in caplog.records)


def test_pagerank_exposes_node_count_attribute(spark):
    """The returned frame carries pagerank_n_nodes (float |N|) in BOTH
    stopping modes — gr1 scales ranks by it instead of re-counting the
    checkpointed frame, so this attribute is load-bearing API surface."""
    from pyspark.sql import functions as F

    from agent_data_wrangler_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string")
    fixed = pagerank(edges, num_iters=2)
    assert fixed.pagerank_n_nodes == 3.0
    assert fixed.count() == 3
    conv = pagerank(edges, damping=0.5, tol=1e-6, max_iter=40)
    assert conv.pagerank_n_nodes == 3.0


def test_pagerank_broadcast_guard_derives_from_driver_memory():
    """r10 ADVICE: the flat 10M-node default could OOM a default-1g driver
    (each iteration COLLECTS the rank frame to the driver for broadcast)
    where the old SMJ plan merely ran slower. The default now derives
    from spark.driver.memory / maxResultSize: min(mem/8, maxResult/2) at
    ~64 B per rank row, capped at 10M."""
    from agent_data_wrangler_spark.operators.graph import (
        _derived_broadcast_guard, _size_conf_bytes)

    assert _size_conf_bytes("1g") == 1 << 30
    assert _size_conf_bytes("512m") == 512 << 20
    assert _size_conf_bytes("512mb") == 512 << 20
    assert _size_conf_bytes("2t") == 2 << 40
    assert _size_conf_bytes("64") == 64 << 20  # unsuffixed = MiB

    class _Conf:
        def __init__(self, vals):
            self._v = vals

        def get(self, k, default=None):
            return self._v.get(k, default)

    class _S:
        def __init__(self, vals):
            self.conf = _Conf(vals)

    # Default 1g driver, default 1g maxResultSize: ~2M nodes, not 10M.
    g = _derived_broadcast_guard(_S({}))
    assert 1_000_000 <= g <= 3_000_000
    # Big driver: maxResultSize/2 binds → 8M; never above the 10M cap.
    assert _derived_broadcast_guard(
        _S({"spark.driver.memory": "24g"})) == (512 << 20) // 64
    assert _derived_broadcast_guard(
        _S({"spark.driver.memory": "64g",
            "spark.driver.maxResultSize": "0"})) == 10_000_000
    # Tiny driver still returns a positive guard.
    assert _derived_broadcast_guard(
        _S({"spark.driver.memory": "64m"})) >= 1
