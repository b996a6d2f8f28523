"""Physical-plan regression tests: the 100 TB properties the queries claim
(pushdown, broadcast, TakeOrderedAndProject, shuffle counts) asserted against
the actual executed plans — a perf claim that isn't in the plan is a comment,
not a property."""

from __future__ import annotations

import pytest

from __spark_entry__ import queries
from agent_data_wrangler_spark.operators import similarity as similarity_ops
from agent_data_wrangler_spark.operators.held import held

QUERIES = queries()


def _plan(spark, name, sf_dir) -> str:
    """The query's executed plan. For an entry declared ``checkpointed``
    (its flat checkpoint hides the plan) this is the WORKING plan: the
    un-checkpointed build, planned while its kept frames are cached."""
    q = QUERIES[name]
    with held() as h:
        build = getattr(q, "__wrapped__", None)
        df = build(h, spark, sf_dir) if build else q(spark, sf_dir)
        return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(spark, name, sf_dir) -> str:
    """Execute, then read the finalized adaptive plan (codegen annotations
    only appear once AQE has finalized stages)."""
    q = QUERIES[name]
    df = q(spark, sf_dir)
    df.collect()  # a write would spawn its own execution; collect finalizes THIS one
    return df._jdf.queryExecution().executedPlan().toString()


def test_a1_filter_pushes_to_scan(spark, sf_dir):
    plan = _plan(spark, "a1_pricing_summary", sf_dir)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # '*(n)' markers = whole-stage-codegen stages in the finalized AQE plan
    assert "*(1)" in _final_plan(spark, "a1_pricing_summary", sf_dir)


def test_a1_column_pruning(spark, sf_dir):
    plan = _plan(spark, "a1_pricing_summary", sf_dir)
    # ReadSchema must NOT include unused wide columns (e.g. l_comment-ish);
    # lineitem has 11 columns, the query needs 7.
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema


def test_j1_broadcasts_customer_dim(spark, sf_dir):
    plan = _plan(spark, "j1_revenue_by_segment", sf_dir)
    assert "BroadcastHashJoin" in plan


def test_k1_no_global_sort(spark, sf_dir):
    plan = _plan(spark, "k1_top10_orders", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no global sort stage


def test_n3_topk_cosine_zero_shuffle(spark, sf_dir):
    plan = _plan(spark, "n3_topk_cosine_embeddings", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan  # the claimed zero-shuffle property


def test_n1_dedup_shuffles_fingerprints_not_text(spark, sf_dir):
    plan = _plan(spark, "n1_exact_dedup_documents", sf_dir)
    # the pre-shuffle hash partitioning must key on the md5 fingerprint, and
    # the exchanged attributes must not carry the raw text column
    exchange_lines = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert exchange_lines, plan
    assert all("text" not in l for l in exchange_lines)


def test_sm1_sample_no_shuffle(spark, sf_dir):
    """The sample leg itself stays a map-side filter: a Sample operator with
    no hash shuffle anywhere (the verdict aggregates are single-partition
    count rollups, which AQE may exchange to 1 partition but never by key)."""
    plan = _plan(spark, "sm1_seeded_sample_orders", sf_dir)
    assert "Exchange hashpartitioning" not in plan
    assert "Sample" in plan


@pytest.mark.parametrize("name", ["w2_cumulative_spend", "w4_rolling_avg_spend"])
def test_windows_shuffle_once(spark, sf_dir, name):
    plan = _plan(spark, name, sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1


@pytest.fixture(scope="module")
def all_query_plans(spark, sf_dir):
    """Executed-plan strings for EVERY registered query, built once and
    shared by the whole-registry sweep tests below — each sweep used to pay
    its own full-registry construction (~45 s apiece; r14 suite-wall fix).
    Streaming queries st1-st6 are excluded (building them runs the stream)."""
    skip = {"st1_streaming_window_counts", "st2_streaming_sessions",
            "st3_streaming_dedup_count", "st4_streaming_enriched_segments",
            "st5_incremental_rollup_events", "st6_stateful_user_totals"}
    return {
        name: q(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        for name, q in QUERIES.items()
        if name not in skip
    }


def test_no_cartesian_product_anywhere(all_query_plans):
    """Sweep every registered query plan: a CartesianProduct node means a
    join lost its keys — the canonical accidental O(n^2). Intentional 1-row
    crossJoins compile to BroadcastNestedLoopJoin over single-row sides and
    are fine."""
    bad = [n for n, plan in all_query_plans.items() if "CartesianProduct" in plan]
    assert not bad, f"cartesian products in: {bad}"


def test_sn1_windows_share_one_exchange(spark, sf_dir):
    """lag + running-sum + groupBy(user_id, session_id) must all reuse the
    user_id hash partitioning: exactly 2 exchanges total — the window shuffle
    and the final session-size-distribution aggregate."""
    plan = _plan(spark, "sn1_sessionize_events", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 2


def test_bk1_bucketed_join_zero_exchange(spark, sf_dir):
    """With broadcast disabled, the bucketed orders⋈customer join must read
    bucket files as pre-shuffled partitions: a SortMergeJoin whose only
    Exchange is the final groupBy(segment) aggregate."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "bk1_bucketed_join_revenue", sf_dir)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_pp1_partition_pruning(spark, sf_dir):
    """The event_type predicate must resolve at the directory level
    (PartitionFilters) with nothing left for the row-level parquet filter."""
    plan = _plan(spark, "pp1_partition_pruned_events", sf_dir)
    assert "PartitionFilters: [isnotnull(event_type" in plan
    assert "= purchase)" in plan
    assert "PushedFilters: []" in plan


def test_j8_star_join_plan(spark, sf_dir):
    """Q3 shape: customer leg broadcast, filters pushed into the scans,
    top-10 via TakeOrderedAndProject (no global sort stage)."""
    plan = _plan(spark, "j8_shipping_priority", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan


def test_ch1_single_exchange(spark, sf_dir):
    """Chunking is per-row Column folds: the ONLY shuffle is the final tiny
    groupBy on lang — no Python, no explode-join."""
    plan = _plan(spark, "ch1_chunk_documents", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Python" not in plan  # pure Column expressions, no UDF boundary


def test_pk1_no_single_reducer_per_source_window(spark, sf_dir):
    """Packing's prefix sum must be the two-phase form: the doc-level ordered
    window is partitioned by (source, bucket) — NEVER by source alone, which
    funnels each source's whole corpus through one reducer. The only window
    allowed to partition by bare source is the offsets cumsum over the tiny
    per-bucket partials (it orders by the bucket column)."""
    plan = _plan(spark, "pk1_pack_documents", sf_dir)
    win_lines = [ln for ln in plan.splitlines() if "Window" in ln and "windowspecdefinition" in ln]
    assert win_lines, "expected window operators in the pk1 plan"
    doc_level = [ln for ln in win_lines if "doc_id" in ln]
    assert doc_level, "expected a doc-ordered window"
    for ln in doc_level:
        assert "__psb" in ln.split("windowspecdefinition")[1].split("ASC")[0], (
            "doc-level window must be partitioned by (source, bucket): " + ln
        )
    assert "BroadcastHashJoin" in plan  # offsets re-join is broadcast, not shuffled


def test_dc1_benchmark_side_broadcast(spark, sf_dir):
    """Decontamination must semi-join corpus shingles against a BROADCAST
    benchmark set — a shuffled join here would move the whole exploded
    corpus for a KB-sized right side."""
    plan = _plan(spark, "dc1_decontaminate_documents", sf_dir)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


@pytest.mark.parametrize("name", [
    "sp1_hash_split_documents",
    "gq1_repetition_quality_documents",
    "pi1_redact_pii_documents",
])
def test_round4_text_ops_stay_in_codegen(spark, sf_dir, name):
    """Split assignment, repetition stats, and PII redaction are scan-stage
    Column expressions: no Python boundary anywhere, exactly one hash
    exchange (the rollup), and no global sort (pi1's checksum is a
    commutative sum, not an ordered concat)."""
    plan = _plan(spark, name, sf_dir)
    assert "Python" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Sort " not in plan


def test_rh1_shuffles_fingerprints_not_text(spark, sf_dir):
    """Winnowing explodes 8-char fingerprints off the scan; document text
    must never enter an exchange."""
    plan = _plan(spark, "rh1_winnow_fingerprints_documents", sf_dir)
    assert "Python" not in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line


def test_n10_lsh_layout_partition_pruned(spark, sf_dir):
    """The bucketed ANN serving layout must prune at the PARTITION level:
    the probe set appears as a __bpart IN (...) PartitionFilter (no full
    directory scan) and the exact bucket filter is pushed to parquet row
    groups."""
    plan = _plan(spark, "n10_lsh_pruned_topk_embeddings", sf_dir)
    layout_scans = [ln for ln in plan.splitlines()
                    if "FileScan" in ln and "embeddings_lsh" in ln]
    assert layout_scans, plan
    for ln in layout_scans:
        part = ln.split("PartitionFilters:", 1)[1].split("]", 1)[0]
        assert "__bpart" in part, ln
        assert "__bucket" in ln.split("DataFilters:", 1)[1].split("]", 1)[0], ln


def test_n10_layout_probes_subset_of_partitions(spark, sf_dir, tmp_path):
    """write_lsh_bucketed + topk_cosine_lsh_pruned round-trip on a fresh
    layout: the pruned read returns the same top-k as the inline LSH probe
    over the same planes (identical probe semantics, different physics)."""
    from agent_data_wrangler_spark.queryset_nstar import QUERY_VEC
    from agent_data_wrangler_spark.sources.readers import read_table

    e = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "lsh_layout")
    num_planes, shift = similarity_ops.write_lsh_bucketed(
        e, "embedding", path, partition_bits=2
    )
    assert shift == max(0, num_planes - 2)
    pruned = similarity_ops.topk_cosine_lsh_pruned(
        spark, path, "embedding", QUERY_VEC, k=10,
        num_planes=num_planes, shift=shift, payload_cols=["vec_id"],
    ).collect()
    inline = similarity_ops.topk_cosine_lsh(
        e, "embedding", QUERY_VEC, k=10,
        num_planes=num_planes, multiprobe=2, payload_cols=["vec_id"],
    ).collect()
    assert [r.vec_id for r in pruned] == [r.vec_id for r in inline]


def test_n11_ivf_layout_partition_pruned(spark, sf_dir):
    """The IVF serving layout must read only the probed inverted lists:
    __list IN (...) resolves as a PartitionFilter on the layout scan."""
    plan = _plan(spark, "n11_ivf_pruned_topk_embeddings", sf_dir)
    layout_scans = [ln for ln in plan.splitlines()
                    if "FileScan" in ln and "embeddings_ivf" in ln]
    assert layout_scans, plan
    for ln in layout_scans:
        part = ln.split("PartitionFilters:", 1)[1].split("]", 1)[0]
        assert "__list" in part, ln


def test_ivf_pruned_layout_self_describing(spark, sf_dir, tmp_path):
    """write_ivf_partitioned + topk_cosine_ivf_pruned round-trip using ONLY
    the path (centroids come from the sidecar metadata), matching the inline
    IVF result over the same fit."""
    from agent_data_wrangler_spark.queryset_nstar import QUERY_VEC
    from agent_data_wrangler_spark.sources.readers import read_table

    e = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_layout")
    centroids = similarity_ops.write_ivf_partitioned(e, "embedding", path)
    meta = similarity_ops.read_index_meta(path)
    assert meta["kind"] == "ivf" and meta["centroids"] == centroids
    pruned = similarity_ops.topk_cosine_ivf_pruned(
        spark, path, "embedding", QUERY_VEC, k=10, payload_cols=["vec_id"]
    ).collect()
    inline = similarity_ops.topk_cosine_ivf(
        e, "embedding", QUERY_VEC, k=10, payload_cols=["vec_id"]
    ).collect()
    assert [r.vec_id for r in pruned] == [r.vec_id for r in inline]


def test_cd1_merge_base_never_shuffled(spark, sf_dir):
    """CDC MERGE (cd1): the base snapshot side must reach the anti-join by
    broadcast of the changed-key set — never by shuffling the base. The
    changeset window gets rank-limit pushdown (WindowGroupLimit) so only
    the per-key winner crosses its exchange."""
    plan = _plan(spark, "cd1_apply_changes_orders", sf_dir)
    assert "LeftAnti" in plan and "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan  # top-1-per-key pushed below the shuffle
    # Only the changeset (tiny) may hash-shuffle — once per window instance.
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_ts2_gap_fill_single_exchange(spark, sf_dir):
    """Forward fill is ONE shuffle on user_id; the null-planting CASE stays
    in the scan stage's projection."""
    plan = _plan(spark, "ts2_gap_fill_events", sf_dir)
    assert plan.count("Exchange") == 1, plan


def test_sub1_decorrelated_no_cartesian(spark, sf_dir):
    """The hand-decorrelated Q17 shape: per-part limit aggregate + two hash
    joins on the part key; no nested-loop anywhere."""
    plan = _plan(spark, "sub1_small_quantity_revenue", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_an1_rolling_anomaly_single_exchange(spark, sf_dir):
    """Rolling anomaly: all three frame aggregates (count/sum/sum-sq) share
    ONE window spec — one shuffle on user_id, no extra sorts."""
    plan = _plan(spark, "an1_rolling_anomaly_events", sf_dir)
    assert plan.count("Exchange") == 1, plan


def test_ri1_single_child_scan(spark, sf_dir):
    """All three lineitem FK edges must check in ONE lineitem scan (chained
    broadcast left joins + one aggregate), not one scan per edge."""
    plan = _plan(spark, "ri1_referential_integrity", sf_dir)
    lineitem_scans = plan.count("lineitem.parquet")
    assert lineitem_scans == 1, f"{lineitem_scans} lineitem scans\n{plan}"
    assert "BroadcastHashJoin" in plan


def test_no_row_at_a_time_python_anywhere(all_query_plans):
    """Sweep every registered query plan: plain BatchEvalPython means a
    row-at-a-time Python UDF crept into a hot path — the Python boundary
    must always be Arrow-batched (ArrowEvalPython / *InPandas / PythonScan).
    The one sanctioned exception is u4's Python UDTF node
    (BatchEvalPythonUDTF — the UDTF surface itself)."""
    import re

    bad = [
        name
        for name, plan in all_query_plans.items()
        if name != "st7_stream_stream_join_events"
        and re.search(r"BatchEvalPython(?!UDTF)", plan)
    ]
    assert not bad, f"row-at-a-time Python UDFs in: {bad}"


def test_tk1_rank_limit_pushdown(spark, sf_dir):
    """Grouped top-k must get WindowGroupLimit: the per-group top-3 is
    computed map-side BEFORE the exchange, so the shuffle carries at most
    k rows per group per task — never the whole table."""
    plan = _plan(spark, "tk1_top3_orders_per_priority", sf_dir)
    assert "WindowGroupLimit" in plan, plan


def test_aqe_skew_join_splits_planted_hot_key(spark):
    """SURVEY §4 advertises AQE skew-join as the automatic remedy next to the
    manual salted_join; this pins that the OptimizeSkewedJoin path actually
    FIRES on a planted hot key (r05 verdict item 6). Thresholds are lowered
    so local data can trip them (prod defaults: factor 5, 256 MB); the
    assertion is the `skew=true` annotation on the finalized SMJ node."""
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force sort-merge join
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        # key 0 is hot: ~100x every other key's row count, with a payload
        # column so the hot partition's byte size crosses the threshold.
        left = spark.range(0, 60_000).select(
            F.when(F.col("id") < 50_000, F.lit(0)).otherwise(F.col("id") % 100)
            .alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pay"),
        )
        right = spark.range(0, 100).select(
            F.col("id").alias("k"), F.col("id").alias("rv")
        )
        # No groupBy(k) after the join: a downstream op REQUIRING hash
        # distribution on k vetoes OptimizeSkewedJoin (splitting a partition
        # would duplicate it); the bare join is the shape AQE optimizes.
        joined = left.join(right, "k").select("k", "pay", "rv")
        joined.collect()  # finalize THIS df's adaptive plan (count() would
        # spawn a separate execution and prune the payload bytes)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"AQE skew-join did not fire:\n{plan[:2000]}"
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_key_skew_detector_escalates_to_salted_join(spark):
    """The documented detector -> salted_join escalation: profile.key_skew
    flags the planted hot key, and the salted join's plan carries the salt
    in its join keys (the manual remedy when AQE thresholds don't trip,
    e.g. a hot key inside an otherwise-average-sized partition)."""
    from pyspark.sql import functions as F

    from agent_data_wrangler_spark.operators.joins import salted_join
    from agent_data_wrangler_spark.operators.profile import key_skew

    left = spark.range(0, 20_000).select(
        F.when(F.col("id") < 15_000, F.lit(0)).otherwise(F.col("id") % 50)
        .alias("k"),
        F.col("id").alias("lv"),
    )
    right = spark.range(0, 50).select(F.col("id").alias("k"), F.col("id").alias("rv"))

    skew = key_skew(left, "k").collect()[0]
    assert skew.skew_factor > 10  # detector flags the hot key

    salted = salted_join(left, right, on="k", salt=8)
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan  # the salt is a real join-key column, not a comment
    # and the escalated join is byte-identical to the plain join
    plain = left.join(right, "k")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_lsh_layout_append_keeps_pruning(spark, sf_dir, tmp_path):
    """Serving-layout maintenance (r05 verdict item 7): append a delta into
    a write_lsh_bucketed layout via the sidecar planes, then assert (a) a
    planted near-duplicate living ONLY in the delta is found by the pruned
    probe, and (b) the probe scan still prunes partitions (PartitionFilters
    on __bpart) — append must not degrade the layout to a full scan."""
    from pyspark.sql import functions as F

    from agent_data_wrangler_spark.queryset_nstar import QUERY_VEC
    from agent_data_wrangler_spark.sources.readers import read_table

    e = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "lsh_layout_append")
    similarity_ops.write_lsh_bucketed(e, "embedding", path, partition_bits=2)

    planted_id = 10_000_000
    delta = spark.createDataFrame(
        [(planted_id, [float(x) for x in QUERY_VEC])],
        "vec_id long, embedding array<float>",
    )
    n = similarity_ops.append_lsh_bucketed(delta, "embedding", path)
    assert n == 1

    pruned = similarity_ops.topk_cosine_lsh_pruned(
        spark, path, "embedding", QUERY_VEC, k=5, payload_cols=["vec_id"]
    )
    rows = pruned.collect()
    assert rows[0].vec_id == planted_id  # the delta row wins (cos=1.0)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans
    for ln in scans:
        part = ln.split("PartitionFilters:", 1)[1].split("]", 1)[0]
        assert "__bpart" in part, ln

    # dim-mismatch deltas must be refused, not silently mis-bucketed
    bad = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="dim"):
        similarity_ops.append_lsh_bucketed(bad, "embedding", path)


def test_ivf_layout_append_keeps_pruning(spark, sf_dir, tmp_path):
    """IVF twin of the LSH append test: sidecar-centroid assignment routes
    the delta to its nearest list; probes keep pruning via __list."""
    from agent_data_wrangler_spark.queryset_nstar import QUERY_VEC
    from agent_data_wrangler_spark.sources.readers import read_table

    e = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_layout_append")
    similarity_ops.write_ivf_partitioned(e, "embedding", path)

    planted_id = 10_000_001
    delta = spark.createDataFrame(
        [(planted_id, [float(x) for x in QUERY_VEC])],
        "vec_id long, embedding array<float>",
    )
    assert similarity_ops.append_ivf_partitioned(delta, "embedding", path) == 1

    pruned = similarity_ops.topk_cosine_ivf_pruned(
        spark, path, "embedding", QUERY_VEC, k=5, payload_cols=["vec_id"]
    )
    rows = pruned.collect()
    assert rows[0].vec_id == planted_id
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans
    for ln in scans:
        part = ln.split("PartitionFilters:", 1)[1].split("]", 1)[0]
        assert "__list" in part, ln


def test_zorder_recluster_after_append_restores_spans(spark, tmp_path):
    """Append degrades a z-ordered layout (delta file stats straddle the
    whole domain); recluster_zorder must restore narrow per-file spans on
    BOTH dimensions and preserve every row."""
    import glob
    import os as _os

    from pyspark.sql import functions as F

    from agent_data_wrangler_spark.sources.writers import (
        recluster_zorder,
        write_zorder,
    )

    grid = spark.createDataFrame(
        [(x, y) for x in range(64) for y in range(64) if (x + y) % 2 == 0],
        "x int, y int",
    )
    delta = spark.createDataFrame(
        [(x, y) for x in range(64) for y in range(64) if (x + y) % 2 == 1],
        "x int, y int",
    )
    path = _os.path.join(str(tmp_path), "z")
    write_zorder(grid, path, ["x", "y"], num_files=16, bits=8)
    delta.write.mode("append").parquet(path)  # plain append: stats straddle

    def mean_span(col):
        spans = []
        for f in glob.glob(_os.path.join(path, "part-*.parquet")):
            agg = spark.read.parquet(f).agg(
                F.min(col).alias("lo"), F.max(col).alias("hi")).first()
            spans.append(agg["hi"] - agg["lo"])
        return sum(spans) / len(spans)

    assert mean_span("x") > 24 or mean_span("y") > 24  # degraded by append

    recluster_zorder(spark, path, ["x", "y"], num_files=16, bits=8)
    out = spark.read.parquet(path)
    assert out.count() == 64 * 64
    assert out.select("x", "y").distinct().count() == 64 * 64  # nothing lost
    assert mean_span("x") < 32 and mean_span("y") < 32  # clustering restored


def test_sub3_window_min_reuses_agg_partitioning(spark, sf_dir):
    """Q2-shape: supplier/nation are broadcast dims, and the window MIN over
    l_partkey must NOT add a shuffle beyond the (l_partkey, l_suppkey)
    aggregate's — Catalyst sees the agg's hashpartitioning as a prefix-
    compatible distribution only when it re-shuffles on the narrower key, so
    the plan budget is: 1 agg exchange + 1 window exchange, nothing else."""
    plan = _plan(spark, "sub3_min_cost_supplier", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "CartesianProduct" not in plan


def test_sub4_exists_rewrites_stay_equi_joins(spark, sf_dir):
    """Q21-shape: the EXISTS / NOT EXISTS pair must compile to EQUI semi and
    anti joins on l_orderkey with the supplier-inequality as a residual
    condition — a BroadcastNestedLoopJoin here would be the O(n^2)
    correlated-subquery trap this query exists to pin against."""
    plan = _plan(spark, "sub4_last_shipper_multi_supplier", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_tf1_single_token_explode(spark, sf_dir):
    """TF-IDF claims one corpus scan: the tf AND df aggregates both derive
    from ONE exploded token frame (df is recovered from the (term, source)
    intermediate), so the plan carries exactly one Generate node."""
    plan = _plan(spark, "tf1_tfidf_top_terms_documents", sf_dir)
    assert plan.count("Generate explode") == 1, plan


def test_ng1_partial_agg_before_exchange(spark, sf_dir):
    """The repeated-n-gram audit shuffles partial-agg (gram, count) rows:
    a partial HashAggregate must sit below the exchange, and the raw text
    column must never be exchanged."""
    plan = _plan(spark, "ng1_repeated_ngrams_documents", sf_dir)
    first_exchange = plan.index("Exchange hashpartitioning")
    assert "HashAggregate" in plan[first_exchange:], plan
    assert "HashAggregate" in plan[:first_exchange], plan
    exchange_lines = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert all("text" not in l for l in exchange_lines)


def test_runtime_bloom_filter_reaches_fact_scan(spark, sf_dir):
    """100 TB join story: when a selective dim filter feeds a shuffle join,
    Spark's runtime bloom-filter injection (on by default in Spark 4) plants
    a might_contain() predicate on the FACT side, cutting shuffle input
    before the join. Local thresholds are tuned only to make the small-SF
    plan exhibit what default thresholds produce at warehouse sizes
    (creation side under creationSideThreshold, application side over the
    scan-size threshold)."""
    from agent_data_wrangler_spark.sources.readers import read_table
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = read_table(spark, sf_dir, "lineitem")
        p = read_table(spark, sf_dir, "part").filter(F.col("p_size") == 25)
        j = li.join(p, li["l_partkey"] == p["p_partkey"]).groupBy("p_brand").count()
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, opt
        assert "bloom_filter_agg" in opt, opt
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ws1_weighted_sample_zero_shuffle(spark, sf_dir):
    """A-ES weighted sampling is a scan-stage key + global top-k: the plan
    must be TakeOrderedAndProject with no exchange anywhere."""
    plan = _plan(spark, "ws1_weighted_sample_documents", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_hh1_sketch_then_broadcast_semi_join(spark, sf_dir):
    """Heavy hitters: the Misra-Gries candidate set must enter the exact
    verify as a BROADCAST semi join (the whole point — the full vocabulary
    never shuffles), with the MG pass visible as a MapInPandas node."""
    plan = _plan(spark, "hh1_heavy_hitter_tokens_documents", sf_dir)
    assert "MapInPandas" in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_kl1_intermediate_computed_once(spark, sf_dir):
    """The (source, lang) intermediate feeds three consumers; all three
    must read the materialized cache (InMemoryTableScan), not re-derive
    the aggregate from fresh corpus scans (the tf1 multi-reference trap)."""
    plan = _plan(spark, "kl1_source_drift_documents", sf_dir)
    assert plan.count("InMemoryTableScan") == 3, plan


def test_j10_dims_broadcast_facts_never_nested_loop(spark, sf_dir):
    """Q5-shape: region/nation/supplier ride broadcasts and the region
    filter reaches the region scan — the same-nation condition must not
    degrade the supplier join to a nested loop."""
    plan = _plan(spark, "j10_local_supplier_revenue", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(
        "region" in ln and "ASIA" in ln and "FileScan" in ln
        for ln in plan.splitlines()
    ), plan


def test_j11_disjuncts_push_to_both_scans_no_shuffle(spark, sf_dir):
    """Q19-shape: the OR'd part-only conjuncts must reach the part scan and
    the derivable quantity disjunction the lineitem scan; lineitem itself
    never shuffles (broadcast join + partial agg to one row)."""
    plan = _plan(spark, "j11_disjunctive_promo_revenue", sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 0, plan
    lines = plan.splitlines()
    assert any(
        "part.parquet" in ln and "Brand" in ln and "FileScan" in ln
        for ln in lines
    ), plan
    assert any(
        "lineitem.parquet" in ln and "l_quantity" in ln and "FileScan" in ln
        for ln in lines
    ), plan


def test_sub6_single_lineitem_scan(spark, sf_dir):
    """Q15-shape: the window-max decorrelation reads lineitem ONCE — the
    textbook correlated form's second scan must not appear."""
    plan = _plan(spark, "sub6_top_revenue_suppliers", sf_dir)
    assert plan.count("lineitem.parquet") == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_sub7_total_reads_cached_per_part(spark, sf_dir):
    """Q11-shape: per_part feeds two consumers; both must read the
    materialized cache (InMemoryTableScan), not re-derive the aggregate
    with a second lineitem scan+agg (the kl1/tf1 multi-reference trap)."""
    plan = _plan(spark, "sub7_key_part_revenue_share", sf_dir)
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "CartesianProduct" not in plan


def test_sub8_semi_join_chain_stays_broadcast(spark, sf_dir):
    """Q20-shape: the red-part filter broadcasts into a semi join BEFORE any
    exchange, the dominant-supplier set broadcasts into the supplier dim,
    and the correlated chain never becomes a nested loop."""
    plan = _plan(spark, "sub8_dominant_red_part_suppliers", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert plan.count("LeftSemi") >= 2, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bp1_single_generate_topk_no_sort(spark, sf_dir):
    """BPE pair counting claims: per-doc pair arrays built as one codegen
    expression (exactly ONE Generate — no token-level explode), partial agg
    below a single exchange, and the top-30 as TakeOrderedAndProject."""
    plan = _plan(spark, "bp1_bpe_pair_counts_documents", sf_dir)
    assert plan.count("Generate") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_gr1_iterations_reuse_cached_edges(spark, sf_dir):
    """PageRank claims (operators/graph.pagerank): each iteration
    localCheckpoints, so the FINAL plan is a flat ExistingRDD scan — no
    iteration-deep join tower in the lineage (the scale property: plan
    depth is O(1) in iteration count); the build frames (edges+degree,
    node universe) are persisted DURING the run so iterations reuse them,
    and every persist is matched by an unpersist once the final checkpoint
    materializes — repeated invocations (bench min-of-2, 210-query parity
    sweeps) must not accumulate leaked cache entries (r08 ADVICE)."""
    spark.catalog.clearCache()
    plan = _plan(spark, "gr1_pagerank_trade_graph", sf_dir)
    assert "Scan ExistingRDD" in plan, plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan
    # Leak-free contract: the operator cleaned up its own persists.
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    # The per-iteration claim, pinned on the operator itself: a toy run
    # must REGISTER its build-frame caches while iterating (persist seen
    # >= 2: edges_deg + nodes) and release every one of them on return.
    # The checkpoint hides the cached subtree from the final plan, so
    # count the persist/unpersist calls instead of string-matching it.
    from agent_data_wrangler_spark.operators.graph import pagerank

    spark.catalog.clearCache()
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string")
    # Patch the CONCRETE runtime class (Spark 4's pyspark.sql.DataFrame is
    # an abstract facade; instances are sql.classic.dataframe.DataFrame).
    cls = type(edges)
    persisted, released = [], []
    orig_persist = cls.persist
    orig_unpersist = cls.unpersist
    cls.persist = lambda self, *a, **k: (
        persisted.append(self), orig_persist(self, *a, **k))[1]
    cls.unpersist = lambda self, *a, **k: (
        released.append(self), orig_unpersist(self, *a, **k))[1]
    try:
        pagerank(edges, num_iters=1).collect()
    finally:
        cls.persist = orig_persist
        cls.unpersist = orig_unpersist
    assert len(persisted) >= 2, "build frames were never persisted"
    assert {id(d) for d in persisted} <= {id(d) for d in released}, (
        "pagerank leaked persisted build frames")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    spark.catalog.clearCache()


def test_cl1_consumers_read_cached_centroids(spark, sf_dir):
    """Centroid confusion claims: the (label, dim) centroid frame is
    persisted and every downstream product (both dot-product sides and the
    norm frames) reads the cache — zero re-aggregation of the exploded
    embedding table."""
    plan = _plan(spark, "cl1_label_centroid_confusion", sf_dir)
    assert plan.count("InMemoryTableScan") >= 3, plan
    assert "CartesianProduct" not in plan


def test_zf1_topk_no_global_sort(spark, sf_dir):
    """Zipf fit claims: the top-200 token slice is TakeOrderedAndProject
    (per-partition top-k, no global vocabulary sort) over a single
    partial-agg exchange."""
    plan = _plan(spark, "zf1_zipf_fit_documents", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_ew1_single_exchange(spark, sf_dir):
    """EWMA claims one shuffle on user_id shared by the smoothing frame and
    the latest-row filter (the desc window re-sorts but must not
    re-partition)."""
    plan = _plan(spark, "ew1_ewma_user_level_events", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_ns1_dense_index_is_bucketed_prefix_sum(spark, sf_dir):
    """Negative sampling claims its dense corpus index comes from the
    bucketed two-phase prefix sum — the plan must carry the prefix-sum
    bucket key (__psb) and every corpus-sized Window must be partitioned
    (the keep-first window on doc_id; never an unpartitioned global
    row_number)."""
    from agent_data_wrangler_spark.queryset_nstar import QUERIES as Q

    df = Q["ns1_negative_samples_documents"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__psb" in plan, plan
    assert "windowspecdefinition(doc_id" in plan, plan
    assert "CartesianProduct" not in plan


def test_ks1_no_single_reducer_cumsum_and_shared_base(spark, sf_dir):
    """The KS cumulative counts must come from the bucketed prefix sum
    (__psb key present — no global-order single-reducer window over the
    value domain), and both consumers of the per-value frame must read
    the cache."""
    plan = _plan(spark, "ks1_ks_drift_events", sf_dir)
    assert "__psb" in plan, plan
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_hs1_union_reaggregates_days_not_events(spark, sf_dir):
    """The weekly sketch union must re-aggregate the |days|-sized sketch
    frame — two hash aggregates on the sketch path (day sketches, weekly
    union), never a second raw-event distinct for the estimate leg."""
    plan = _plan(spark, "hs1_hll_weekly_rollup_events", sf_dir)
    assert "hll_union_agg" in plan or "hll_sketch_agg" in plan, plan
    assert "CartesianProduct" not in plan


def test_a8_pure_pushdown_no_shuffle(spark, sf_dir):
    """Q6-shape: all three predicates reach the lineitem scan and the plan
    has no hash shuffle at all — a single scan partial-aggregated to one
    row is the whole query."""
    plan = _plan(spark, "a8_forecast_revenue_change", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert any(
        "lineitem.parquet" in ln and "l_quantity" in ln
        and "l_shipdate" in ln and "FileScan" in ln
        for ln in plan.splitlines()
    ), plan


def test_j12_dimension_chains_broadcast(spark, sf_dir):
    """Q7-shape: both nation->region dimension chains collapse into
    broadcasts (supplier side onto lineitem, customer side onto orders);
    the direction disjunction never degrades a join to a nested loop."""
    plan = _plan(spark, "j12_region_trade_volume", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_j14_topk_never_global_sort(spark, sf_dir):
    """Q10-shape: the top-20 runs as TakeOrderedAndProject (per-partition
    heaps) over the per-customer aggregate, and customer/nation broadcast
    onto that aggregate — never onto the fact table."""
    plan = _plan(spark, "j14_returned_items", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", ""), plan


def test_j15_lineitem_never_shuffles(spark, sf_dir):
    """Q14-shape: broadcast part join + 1-row partial agg — zero hash
    exchanges; the shipdate band reaches the lineitem scan."""
    plan = _plan(spark, "j15_promo_revenue", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "BroadcastHashJoin" in plan, plan
    assert any(
        "lineitem.parquet" in ln and "l_shipdate" in ln and "FileScan" in ln
        for ln in plan.splitlines()
    ), plan


def test_sub9_denylist_is_broadcast_anti(spark, sf_dir):
    """Q16-shape: the NOT IN supplier denylist compiles to a broadcast
    anti join (NULL-aware, but the denylist key is non-nullable), never a
    shuffled join or nested loop over lineitem."""
    plan = _plan(spark, "sub9_part_supplier_counts", sf_dir)
    assert "LeftAnti" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan


def test_sub10_threshold_is_one_row_broadcast(spark, sf_dir):
    """Q22-shape: the scalar threshold joins as a single-row broadcast
    (the only nested-loop in the plan) and the no-recent-orders check is
    an anti join on the pre-distinct custkey set."""
    plan = _plan(spark, "sub10_global_sales_opportunity", sf_dir)
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_iv1_single_explode_after_scan_prefilter(spark, sf_dir):
    """Inverted search: one Generate (the posting explode) fed by the
    LIKE-conjunction prefilter, and a TakeOrderedAndProject heap for the
    top-20 — never a global sort."""
    plan = _plan(spark, "iv1_inverted_search_documents", sf_dir)
    assert plan.count("Generate") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan


def test_mc1_sweep_line_never_single_partition(spark, sf_dir):
    """Interval sweep: the running sum windows over (priority, day) grain —
    hash-partitioned by priority, never a single-partition or range
    exchange (no global sort at any SF)."""
    plan = _plan(spark, "mc1_peak_open_orders", sf_dir)
    assert "Exchange SinglePartition" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Window" in plan, plan


def test_sq2_pattern_without_window_or_collect(spark, sf_dir):
    """Negation sequence pattern: resolved by conditional MIN aggregates —
    no Window operator, no Generate (no per-user event arrays), no
    nested-loop join anywhere."""
    plan = _plan(spark, "sq2_signup_conversion_pattern", sf_dir)
    assert "Window" not in plan, plan
    assert "Generate" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_fi1_basket_pairs_topk_heap(spark, sf_dir):
    """Market-basket pairs: top-20 via TakeOrderedAndProject (per-partition
    heaps), pair generation via equi join on orderkey — never a cartesian
    pair explosion."""
    plan = _plan(spark, "fi1_frequent_part_pairs", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tr1_reuses_persisted_edge_frame(spark, sf_dir):
    """Triangle counting: the thresholded edge frame and the oriented frame
    are persisted and re-read (degree calc, both 2-path legs, closing-edge
    semi join) instead of recomputing the pair aggregation per leg. The
    1-row threshold broadcast appears as a nested loop inside the cached
    subtree text (repeated per cache read — an upper-bound artifact, see
    PLANS.md); the ban that matters is CartesianProduct."""
    plan = _plan(spark, "tr1_triangle_count", sf_dir)
    assert plan.count("InMemoryTableScan") >= 3, plan
    assert "CartesianProduct" not in plan


def test_pq1_pipe_plans_like_ansi(spark, sf_dir):
    """Pipe-syntax SQL compiles to the same physical shape as the ANSI
    equivalent: pushed date filter, hash aggregate, no nested loop."""
    plan = _plan(spark, "pq1_pipe_syntax_revenue", sf_dir)
    assert "HashAggregate" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rx1_compiles_to_union_loop(spark, sf_dir):
    """Recursive CTE: Spark 4 plans WITH RECURSIVE as a UnionLoop operator
    (anchor + bounded iterative step), not a driver-side unrolled union."""
    plan = _plan(spark, "rx1_recursive_reachability", sf_dir)
    assert "UnionLoop" in plan, plan
    assert "CartesianProduct" not in plan


def test_bm1_single_explode_heap_topk(spark, sf_dir):
    """BM25: the scored path reads the persisted tf frame (no re-derived
    explode for the df branch — at most the one Generate outside the cache,
    plus the cached subtree's own), broadcast df/stats joins, and a
    TakeOrderedAndProject heap for the top-10 — never a global sort."""
    plan = _plan(spark, "bm1_bm25_rank_documents", sf_dir)
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_abc1_no_single_reducer_cumsum(spark, sf_dir):
    """Pareto/ABC: the global cumulative share runs through
    distributed_prefix_sums — the bucket key (__psb) is in the plan and no
    range exchange (global sort) ever feeds a Window. SinglePartition
    exchanges DO appear, but only under the bounded frames (the ≤256-row
    bucket-offsets window and the 1-row total broadcast), which is the
    design: the |parts|-sized path stays hash-partitioned."""
    plan = _plan(spark, "abc1_pareto_class_parts", sf_dir)
    assert "__psb" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Window" in plan, plan


def test_gi1_rank_is_distributed_prefix_count(spark, sf_dir):
    """Gini: the global rank is a bucketed prefix COUNT (__psb key), not a
    row_number over an empty-partition window — no range exchange (global
    sort) anywhere; single-partition exchanges exist only for the bounded
    offsets/total frames."""
    plan = _plan(spark, "gi1_gini_customer_revenue", sf_dir)
    assert "__psb" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_mb1_pairs_equi_join_broadcast_marginals(spark, sf_dir):
    """Market-basket lift: pair generation is an equi join on orderkey
    (never a cartesian brand cross), marginals join back as broadcasts,
    and the top-15 is a TakeOrderedAndProject heap."""
    plan = _plan(spark, "mb1_brand_basket_lift", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_pit1_interval_probe_is_equi_join(spark, sf_dir):
    """Point-in-time lookup: the validity interval is a residual filter on
    the custkey EQUI join — never a nested-loop range join."""
    plan = _plan(spark, "pit1_point_in_time_priority", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_al1_windows_share_one_orderkey_exchange(spark, sf_dir):
    """Largest-remainder allocation: all three windows partition by
    l_orderkey — no single-partition exchange ever appears (no global
    sort), and the plan stays free of nested loops."""
    plan = _plan(spark, "al1_allocate_order_totals", sf_dir)
    assert "Exchange SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_lj1_lateral_decorrelates_to_group_limit(spark, sf_dir):
    """LATERAL + LIMIT must decorrelate: per-customer top-2 becomes a
    WindowGroupLimit (partial+final) feeding an equi join — never a
    per-outer-row re-execution (no nested loop, no cartesian)."""
    plan = _plan(spark, "lj1_lateral_top2_orders", sf_dir)
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_hq1_two_stage_sketch_merge(spark, sf_dir):
    """Mergeable-histogram claims: the day-partial aggregate and the weekly
    merge are BOTH hash aggregates (partial+final pairs), the merge input is
    the |bins|-sized daily sketch (never a second orders scan), and the
    median read-off windows run on sketch rows only."""
    plan = _plan(spark, "hq1_histogram_median_rollup_orders", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("HashAggregate") >= 4, plan
    assert "CartesianProduct" not in plan


def test_bin1_single_binaryfile_scan(spark, sf_dir):
    """binaryFile ingestion claims: exactly ONE binaryFile scan feeds the
    whole verdict aggregate (no re-listing, no second pass over the staged
    files) and the read schema is pruned to length+content — the path /
    modificationTime columns the source also offers never reach the scan."""
    plan = _plan(spark, "bin1_binaryfile_ingest_documents", sf_dir)
    assert plan.count("FileScan binaryFile") == 1, plan
    assert "Format: BINARYFILE" in plan, plan
    assert "ReadSchema: struct<length:bigint,content:binary>" in plan, plan
    assert "CartesianProduct" not in plan


def test_pl2_log_read_is_shuffle_free(spark, sf_dir):
    """Pipeline event-log claims: the returned frame is a plain projection
    over the JSONL log — one json scan, ZERO exchanges (the per-stage
    counting happened inside the pipeline run; reading the log back must
    not re-aggregate anything)."""
    plan = _plan(spark, "pl2_pipeline_event_log_events", sf_dir)
    assert plan.count("FileScan json") == 1, plan
    assert "Exchange" not in plan, plan


def test_p7_profile_cache_is_local_frame(spark, sf_dir):
    """Profile-cache claims: the returned 1-row frame IS the cached profile
    object (driver-side by design, O(#columns)); its plan is a local scan —
    no file scan, no exchange, nothing recomputed at read time."""
    plan = _plan(spark, "p7_profile_cache_events", sf_dir)
    assert "Scan ExistingRDD" in plan, plan
    assert "Exchange" not in plan, plan
    assert "FileScan" not in plan, plan


def test_zo1_zorder_splits_ranges_and_bounds_files(spark, sf_dir, tmp_path):
    """write_zorder claims (sources/writers.py): the layout job is ONE
    range exchange on the interleaved morton key (pinned on the plan of
    the same composition), the output respects the num_files bound, and —
    the property that makes data skipping work — per-file morton-key
    ranges are PAIRWISE NON-OVERLAPPING, so a predicate on any clustered
    column prunes files by min/max stats."""
    from pyspark.sql import functions as F

    from agent_data_wrangler_spark.sources.readers import read_table
    from agent_data_wrangler_spark.sources.writers import write_zorder, zorder_key

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value")
    out = str(tmp_path / "events_z")
    write_zorder(ev, out, ["user_id", "value"], num_files=4)

    import os

    data_files = [f for f in os.listdir(out) if not f.startswith(("_", "."))]
    assert 1 <= len(data_files) <= 4, data_files

    row = ev.agg(
        F.min(F.col("user_id").cast("double")).alias("lo_u"),
        F.max(F.col("user_id").cast("double")).alias("hi_u"),
        F.min(F.col("value").cast("double")).alias("lo_v"),
        F.max(F.col("value").cast("double")).alias("hi_v"),
    ).first()
    z = zorder_key(
        ["user_id", "value"], 16,
        mins={"user_id": row["lo_u"], "value": row["lo_v"]},
        maxs={"user_id": row["hi_u"], "value": row["hi_v"]},
    )
    spans = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min(z).alias("zlo"), F.max(z).alias("zhi"))
        .collect()
    )
    ordered = sorted((r["zlo"], r["zhi"]) for r in spans)
    for (_, hi_prev), (lo_next, _) in zip(ordered, ordered[1:]):
        assert hi_prev <= lo_next, f"overlapping z-ranges: {ordered}"

    staged = ev.withColumn("__z", z).repartitionByRange(4, F.col("__z"))
    plan = staged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning(__z" in plan, plan


def test_cm1_compaction_single_file_and_versioned_path(spark, sf_dir, tmp_path):
    """compact() claims (sources/writers.py): at an input size far below
    target_mb the rewrite lands in EXACTLY ceil(bytes/target) = 1 data
    file via the shuffle-free coalesce path, rows survive bit-exactly, and
    the output is a versioned sibling (never an overwrite of the input)."""
    import os

    from agent_data_wrangler_spark.sources.readers import read_table
    from agent_data_wrangler_spark.sources.writers import compact

    ev = read_table(spark, sf_dir, "events").select("event_id", "value")
    frag = str(tmp_path / "events_frag")
    ev.repartition(16).write.parquet(frag)
    n_before = sum(1 for f in os.listdir(frag) if not f.startswith(("_", ".")))
    assert n_before >= 16

    out = compact(spark, frag, target_mb=128)
    assert out != frag and "compacted" in os.path.basename(out), out
    n_after = sum(1 for f in os.listdir(out) if not f.startswith(("_", ".")))
    assert n_after == 1, n_after
    assert spark.read.parquet(out).count() == ev.count()
    # input untouched (never-overwrite contract)
    assert sum(1 for f in os.listdir(frag)
               if not f.startswith(("_", "."))) == n_before


def test_lk1_split_joins_stay_equi(spark, sf_dir):
    """Split-leakage claims: the split assignment attaches through EQUI
    joins on doc id (broadcast at small SF, AQE-planned at scale) — never
    a nested loop over the pair set — and the verdict is one global
    aggregate over the already-bounded candidate pairs."""
    plan = _plan(spark, "lk1_split_leakage_documents", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan


def test_tw1_single_scan_and_broadcast_totals(spark, sf_dir):
    """Temperature-weights claims: documents is scanned ONCE (pruned to
    source+n_chars) — the totals subtree reads the persisted |sources|-row
    aggregate (InMemoryTableScan), never a second table pass — the totals
    attach as a 1-row broadcast (the only nested loop), and (r09 ADVICE)
    the registry entry checkpoints + unpersists so repeated invocations
    leak zero cache entries."""
    from agent_data_wrangler_spark.queryset_nstar import (
        tw1_temperature_weights_documents)

    spark.catalog.clearCache()
    # Single-scan claim, pinned on the WORKING plan (the registry entry
    # checkpoints it away into an ExistingRDD scan).
    plan = _plan(spark, "tw1_temperature_weights_documents", str(sf_dir))
    # BOTH consumers (per-source rows and the totals subtree) read the
    # cached aggregate; the FileScan text recurs under each
    # InMemoryTableScan only because plan printing repeats the cached
    # child (see PLANS.md legend) — the cache guarantees one real scan.
    assert plan.count("InMemoryTableScan") == 2, plan
    assert "ReadSchema: struct<source:string,n_chars:bigint>" in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "CartesianProduct" not in plan

    # Leak-free contract on the registry entry: flat checkpointed result,
    # nothing left in the cache manager.
    spark.catalog.clearCache()
    final = tw1_temperature_weights_documents(spark, str(sf_dir))
    fplan = final._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in fplan, fplan
    assert "InMemoryTableScan" not in fplan, fplan
    assert final.count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    spark.catalog.clearCache()


def test_aqe_splits_skewed_join_at_runtime(spark, sf_dir):
    """The 100 TB skew story has two lanes: explicit salting
    (joins.salted_join, sj1) and AQE's runtime skew-join split — the
    session enables the latter (session.py: adaptive.skewJoin). Pin that
    it actually fires: a sort-merge join with one hot key must show
    skew=true partitions in the FINALIZED adaptive plan once the skew
    thresholds are reachable at test scale. If a config regression ever
    turned AQE or skewJoin off, the hot partition would silently serialize
    one reducer at cluster scale — this test is the canary."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # 50k rows on ONE key + 200 spread keys vs a 201-key dim: the hot
        # key's shuffle partition dwarfs the median by far more than the
        # factor-2 threshold.
        left = spark.range(0, 50_000).select(
            F.when(F.col("id") < 49_800, F.lit(0))
            .otherwise(F.col("id") % 201).alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 201).select(
            F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("name")
        )
        # A global aggregate, NOT a groupBy on the join key: requiring the
        # join's hash partitioning downstream makes OptimizeSkewedJoin
        # decline (splitting the hot partition would break the required
        # distribution) — which is itself correct behavior, but not what
        # this canary pins.
        joined = left.join(right, "k").agg(F.sum("payload").alias("s"))
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_rs1_gram_exchanges_carry_md5_not_text(spark, sf_dir):
    """rs1's repeated-gram aggregate and hit join shuffle on the fixed-width
    md5 gram key; the raw text column must never enter an exchange (the n1
    fingerprint lesson applied to positional grams). The per-doc island
    window shuffles only (id, n_toks, pos)."""
    plan = _plan(spark, "rs1_repeated_ngram_spans_documents", sf_dir)
    exchange_lines = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    ]
    assert exchange_lines, plan
    assert all("text" not in l for l in exchange_lines)
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_px1_model_persist_feeds_both_broadcast_consumers(spark, sf_dir):
    """px1's WORKING plan (the registry query localCheckpoints, so PLANS.md
    shows a flat scan): with the model frame persisted, its two consumers —
    the (w1,w2) bigram join and the ctx aggregate — must both read the
    InMemoryRelation instead of replanning separate train-scan tokenization
    passes (the tw1 broadcast-subtree lesson)."""
    plan = _plan(spark, "px1_bigram_xent_documents", sf_dir)
    assert plan.count("InMemoryTableScan") >= 2, plan
    # the eval scan is the only remaining documents read feeding the
    # bigram stream side (model + ctx come from the cache)
    assert "CartesianProduct" not in plan


def test_li1_profiles_broadcast_and_cached(spark, sf_dir):
    """li1's WORKING plan (the registry query localCheckpoints, so PLANS.md
    shows a flat scan): the persisted |langs|x40 profile frame must feed
    BOTH consumers (the distance join and the distinct-langs grid) from the
    cache, the distance join must broadcast it, and the |langs|-row grid
    crossJoin is the only nested-loop (bounded broadcast, never
    CartesianProduct)."""
    plan = _plan(spark, "li1_language_id_documents", sf_dir)
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_qf1_weights_broadcast_and_cached(spark, sf_dir):
    """qf1's WORKING plan: the persisted <=1024-row naive-Bayes weight frame
    must be read from cache (not replanned into the broadcast subtree — the
    tw1 lesson) and the eval-token scoring join must broadcast it."""
    plan = _plan(spark, "qf1_quality_classifier_documents", sf_dir)
    assert "InMemoryTableScan" in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_p5a_envelope_counts_not_exact_percentile(spark, sf_dir):
    """p5a's WORKING plan: the r12 rank envelope must be conditional COUNTS
    against the broadcast sketch values — the exact-percentile aggregate
    (per-partition full-value buffering, the OOM shape p5a exists to avoid
    and the measured GC-variance source) must be gone. percentile_approx
    (the fixed-size sketch) is the only percentile in the plan."""
    import re

    plan = _plan(spark, "p5a_describe_approx_lineitem", sf_dir)
    assert "percentile_approx" in plan, plan
    assert not re.search(r"(?<!_)percentile\(", plan), plan
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan
