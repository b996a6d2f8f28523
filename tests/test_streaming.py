"""Structured Streaming tests: file-source ingestion drained with
Trigger.AvailableNow into memory sinks, checked against batch equivalents —
windowed aggregation with watermark, in-stream dedup, session windows, and a
custom stateful operator (applyInPandasWithState)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from agent_data_wrangler_spark.streaming import (
    dedup_within_watermark,
    run_available_now,
    session_agg,
    sessionize_stateful,
    stream_from_directory,
    windowed_agg,
)

SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """Two parquet drops of events: known windows/sessions, one exact dup."""
    d = tmp_path_factory.mktemp("stream")
    rows1 = [
        (1, "2024-01-01 10:00:10", 1, "click", 1.0),
        (2, "2024-01-01 10:00:50", 1, "click", 2.0),
        (3, "2024-01-01 10:01:10", 2, "view", 3.0),
        (3, "2024-01-01 10:01:10", 2, "view", 3.0),  # exact duplicate
    ]
    rows2 = [
        (4, "2024-01-01 10:02:30", 1, "click", 4.0),
        (5, "2024-01-01 10:10:00", 2, "view", 5.0),
    ]
    for i, rows in enumerate([rows1, rows2]):
        df = spark.createDataFrame(
            rows, "event_id bigint, ts string, user_id bigint, event_type string, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        df.coalesce(1).write.mode("overwrite").parquet(str(d / f"drop{i}"))
    # flatten: the file source wants a flat dir of files
    flat = tmp_path_factory.mktemp("flat")
    import glob
    import shutil

    for i, f in enumerate(sorted(glob.glob(str(d / "drop*" / "*.parquet")))):
        shutil.copy(f, flat / f"part{i}.parquet")
    return str(flat)


def test_windowed_agg_matches_batch(spark, stream_dir, tmp_path):
    sdf = stream_from_directory(spark, stream_dir, SCHEMA)
    agg = windowed_agg(
        sdf, "ts", "1 minute",
        [F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total")],
        watermark="30 minutes",
    )
    run_available_now(agg, "win_counts", str(tmp_path / "ckpt"))
    got = {
        (str(r.window_start), r.n, r.total)
        for r in spark.table("win_counts").collect()
    }
    batch = spark.read.schema(SCHEMA).parquet(stream_dir)
    expected = {
        (str(r["window.start"]), r.n, r.total)
        for r in batch.groupBy(F.window("ts", "1 minute"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("window.start").alias("window.start"), "n", "total")
        .collect()
    }
    assert got == expected
    assert len(got) == 4  # 10:00, 10:01, 10:02, 10:10


def test_dedup_within_watermark(spark, stream_dir, tmp_path):
    sdf = stream_from_directory(spark, stream_dir, SCHEMA)
    deduped = dedup_within_watermark(sdf, ["event_id"], "ts", watermark="30 minutes")
    run_available_now(deduped, "deduped_events", str(tmp_path / "ckpt"))
    rows = spark.table("deduped_events").collect()
    assert len(rows) == 5  # 6 raw rows, one exact duplicate removed
    assert sorted(r.event_id for r in rows) == [1, 2, 3, 4, 5]


def test_session_agg(spark, stream_dir, tmp_path):
    sdf = stream_from_directory(spark, stream_dir, SCHEMA)
    sessions = session_agg(
        sdf, "ts", "5 minutes", ["user_id"],
        [F.count(F.lit(1)).alias("n_events")],
        watermark="30 minutes",
    )
    run_available_now(sessions, "sessions", str(tmp_path / "ckpt"))
    got = {(r.user_id, r.n_events) for r in spark.table("sessions").collect()}
    # user 1: 10:00:10-10:02:30 all within 5-min gaps -> one 3-event session
    # user 2: 10:01:10 (dup collapses? no - session_agg doesn't dedup: 2 events)
    #          and 10:10:00 is >5min later -> second session of 1
    assert (1, 3) in got
    assert (2, 2) in got and (2, 1) in got


def test_sessionize_stateful_counts(spark, stream_dir, tmp_path):
    def count_events(key, pdf_iter, state):
        total = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    sdf = stream_from_directory(spark, stream_dir, SCHEMA)
    counted = sessionize_stateful(
        sdf, ["user_id"], count_events,
        output_schema="user_id bigint, n_events bigint",
        state_schema="n bigint",
        timeout=GroupStateTimeout.NoTimeout,
    )
    run_available_now(counted, "stateful_counts", str(tmp_path / "ckpt"))
    got = {(r.user_id, r.n_events) for r in spark.table("stateful_counts").collect()}
    # one AvailableNow drain -> one batch; totals per user over all files
    assert (1, 3) in got
    assert (2, 3) in got


def test_foreach_batch_versioned_sink(spark, stream_dir, tmp_path):
    """Streaming lands in the same versioned layout as the batch pipeline."""
    from agent_data_wrangler_spark.streaming import run_foreach_batch

    out_base = str(tmp_path / "events.parquet")
    written = []

    def sink(batch_df, batch_id):
        from agent_data_wrangler_spark.sources.writers import write_versioned

        written.append(write_versioned(batch_df, out_base, fmt="parquet"))

    sdf = stream_from_directory(spark, stream_dir, SCHEMA)
    run_foreach_batch(sdf, sink, str(tmp_path / "ckpt"))
    assert written and written[0].endswith("events_clean.parquet")
    total = sum(spark.read.parquet(p).count() for p in written)
    assert total == 6  # all rows delivered exactly once across batches


def test_sliding_window_agg(spark, stream_dir, tmp_path):
    sdf = stream_from_directory(spark, stream_dir, SCHEMA)
    agg = windowed_agg(
        sdf, "ts", "2 minutes",
        [F.count(F.lit(1)).alias("n")],
        slide="1 minute",
        watermark="30 minutes",
    )
    run_available_now(agg, "sliding_counts", str(tmp_path / "ckpt"))
    got = {(str(r.window_start), r.n) for r in spark.table("sliding_counts").collect()}
    # each event lands in 2 overlapping windows (duration 2m, slide 1m)
    assert ("2024-01-01 09:59:00", 2) in got  # events 1, 2
    assert ("2024-01-01 10:00:00", 4) in got  # events 1, 2, 3, 3-dup
    assert ("2024-01-01 10:01:00", 3) in got  # 3, 3-dup, 4


def test_dedup_within_watermark_jittered_event_time(spark, tmp_path):
    # The operator's primary case: the SAME record re-delivered with a
    # jittered timestamp must collapse to one row (dedup on keys alone;
    # a keys+time composite would keep both).
    rows = [
        (1, "2024-01-01 10:00:10", 1, "click", 1.0),
        (1, "2024-01-01 10:00:11", 1, "click", 1.0),  # re-delivery, ts +1s
        (2, "2024-01-01 10:00:50", 1, "click", 2.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    sdf = stream_from_directory(spark, src, SCHEMA)
    deduped = dedup_within_watermark(sdf, ["event_id"], "ts", watermark="30 minutes")
    run_available_now(deduped, "dedup_jitter", str(tmp_path / "ckpt"))
    assert sorted(r.event_id for r in spark.table("dedup_jitter").collect()) == [1, 2]


def test_enrich_static_stream_matches_batch(spark, stream_dir, tmp_path):
    from agent_data_wrangler_spark.streaming import enrich_static

    dim = spark.createDataFrame(
        [(1, "GOLD"), (2, "SILVER")], "user_id bigint, tier string"
    )
    sdf = stream_from_directory(spark, stream_dir, SCHEMA).select("user_id", "ts", "value")
    enriched = enrich_static(sdf, dim, on="user_id")
    daily = windowed_agg(
        enriched, "ts", "1 day",
        [F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v")],
        keys=["tier"], watermark="30 minutes",
    )
    run_available_now(daily, "enrich_out", str(tmp_path / "ckpt"))
    got = {(r.tier): (r.n, r.v) for r in spark.table("enrich_out").collect()}
    # batch equivalent over the same files (incl. the exact duplicate row)
    batch = (
        spark.read.schema(SCHEMA).parquet(stream_dir)
        .join(dim, "user_id")
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
    )
    want = {(r.tier): (r.n, r.v) for r in batch.collect()}
    assert got == want


def test_incremental_rollup_multiple_batches(spark, stream_dir, tmp_path):
    """foreachBatch rollup maintenance: with maxFilesPerTrigger=1 the two
    staged files arrive as TWO micro-batches (incremental, not one-shot),
    and the complete-mode state after the last batch equals the batch
    aggregate over everything."""
    from agent_data_wrangler_spark.streaming import run_foreach_batch

    sdf = stream_from_directory(spark, stream_dir, SCHEMA, max_files_per_trigger=1)
    agg = sdf.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("value").alias("total"),
    )
    seen = []

    def upsert(batch_df, batch_id):
        seen.append({r["event_type"]: (r["n"], r["total"]) for r in batch_df.collect()})

    run_foreach_batch(agg, upsert, str(tmp_path / "ckpt"), output_mode="complete")
    assert len(seen) == 2  # genuinely incremental
    # first batch saw only file 1; the final state covers both files
    assert seen[-1] == {"click": (3, 7.0), "view": (3, 11.0)}
    assert seen[0] != seen[-1]


def test_foreach_batch_checkpoint_recovery(spark, stream_dir, tmp_path):
    """The 100 TB operational property SCALE.md claims for st5: a foreachBatch
    rollup stopped after a committed micro-batch and RESTARTED from the same
    checkpoint dir must (a) restore the aggregation state — the final
    complete-mode emission equals the batch answer over everything — and
    (b) not re-deliver the already-committed micro-batch (exactly-once
    bookkeeping via checkpoint + batch id)."""
    import glob
    import shutil

    from agent_data_wrangler_spark.streaming import run_foreach_batch

    src_files = sorted(glob.glob(stream_dir + "/*.parquet"))
    staged = tmp_path / "staged"
    staged.mkdir()
    ckpt = str(tmp_path / "ckpt")
    delivered: dict[int, dict] = {}

    def upsert(batch_df, batch_id):
        assert batch_id not in delivered, f"micro-batch {batch_id} double-applied"
        delivered[batch_id] = {
            r["event_type"]: (r["n"], r["total"]) for r in batch_df.collect()
        }

    agg_of = lambda sdf: sdf.groupBy("event_type").agg(  # noqa: E731
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("value").alias("total"),
    )

    # Run 1: only file 1 staged; AvailableNow drains it and stops — the
    # deterministic stand-in for "killed after a committed micro-batch".
    shutil.copy(src_files[0], staged / "part0.parquet")
    sdf = stream_from_directory(spark, str(staged), SCHEMA)
    run_foreach_batch(agg_of(sdf), upsert, ckpt, output_mode="complete")
    assert list(delivered) == [0]
    assert delivered[0] == {"click": (2, 3.0), "view": (2, 6.0)}

    # Run 2: file 2 arrives; a NEW query object restarts from the SAME
    # checkpoint. State is restored (complete state covers both files) and
    # batch 0 is not re-delivered.
    shutil.copy(src_files[1], staged / "part1.parquet")
    sdf2 = stream_from_directory(spark, str(staged), SCHEMA)
    run_foreach_batch(agg_of(sdf2), upsert, ckpt, output_mode="complete")
    assert list(delivered) == [0, 1]
    batch = (
        spark.read.schema(SCHEMA).parquet(str(staged))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"), F.sum("value").alias("total"))
    )
    want = {r["event_type"]: (r["n"], r["total"]) for r in batch.collect()}
    assert delivered[1] == want


def test_tws_lane_detection_gated(spark, sf_dir):
    """transformWithStateInPandas registers only where protobuf exists: on a
    protobuf-less runtime the probe is False, st10 is absent from the
    registry, and the operator raises a NAMED error instead of an import
    crash. Where protobuf IS present, the stateful totals must converge to
    the batch aggregate (same contract as st6)."""
    import pytest

    from agent_data_wrangler_spark import queryset_nstar
    from agent_data_wrangler_spark.streaming import (
        transform_with_state_supported,
        user_totals_tws,
    )

    supported = transform_with_state_supported()
    assert ("st10_tws_user_totals" in queryset_nstar.QUERIES) == supported
    assert ("st10_tws_user_totals" in queryset_nstar.ORACLE) == supported
    if not supported:
        sdf = spark.createDataFrame(
            [(1, 100)], "user_id bigint, cents bigint")
        with pytest.raises(RuntimeError, match="google.protobuf"):
            user_totals_tws(sdf, "user_id", "cents")
        pytest.skip("google.protobuf absent — TWS lane correctly ungated "
                    "off; rerun on a protobuf-enabled cluster for the "
                    "convergence leg")
    got = queryset_nstar.QUERIES["st10_tws_user_totals"](spark, sf_dir)
    import duckdb
    import os
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet('{}')".format(
            os.path.join(sf_dir, "events.parquet")))
    want = con.execute(queryset_nstar.ORACLE["st10_tws_user_totals"]).fetchall()
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want]


def test_drain_removes_its_checkpoint(spark, sf_dir, monkeypatch):
    """The drain's memory table holds the result, so an st1 call leaves no
    checkpoint dir behind once it returns."""
    import os

    from agent_data_wrangler_spark import queryset_nstar

    made = []
    real = queryset_nstar._scratch_dir

    def spy(prefix, *, tmpfs):
        made.append(real(prefix, tmpfs=tmpfs))
        return made[-1]

    monkeypatch.setattr(queryset_nstar, "_scratch_dir", spy)
    rows = queryset_nstar.QUERIES["st1_streaming_window_counts"](
        spark, str(sf_dir)).collect()
    ckpts = [d for d in made if os.path.basename(d).startswith("adw_ckpt_")]
    assert rows and ckpts, made
    for d in ckpts:
        assert not os.path.exists(d), f"checkpoint left behind: {d}"
