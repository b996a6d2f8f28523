"""SparkSession factory with scale-oriented defaults.

The reference executes eagerly in a single pandas process (reference:
graph_proj/src/agent/tool_call_agent.py:39-41 — ``subprocess.run(["python3",
tmp])``); our engine replaces that with one SparkSession shared across pipeline
stages, configured for a multi-executor cluster even when tested on local[*]:

- AQE on (runtime join-strategy switch, skew-join splitting, partition
  coalescing) — at 100 TB the static plan is always wrong somewhere;
- Arrow on (every pandas_udf / applyInPandas / toPandas crossing is batched);
- session timezone pinned to UTC so timestamp arithmetic is deterministic and
  matches the DuckDB oracle (naive timestamps treated as UTC);
- shuffle partitions default small for local runs; AQE coalescing makes the
  same setting safe on a cluster where the advisory partition size dominates.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def _default_driver_mem() -> str:
    """Size the local driver heap from the machine, not from one bench box.

    local[N] makes the driver THE executor: N task threads share this heap
    with every persisted frame and memory-sink table, and an 8g heap produced
    multi-second GC noise spikes on the 128 GiB bench host. But a hard-coded
    24g fails to launch on smaller hosts, so derive ~1/5 of physical RAM
    clamped to [2g, 24g] (→ 24g on the 128 GiB box, 3g on a 16 GiB laptop).
    SPARK_GRAFT_DRIVER_MEM overrides for any deployment.
    """
    try:
        total_gib = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) / (1 << 30)
    except (ValueError, OSError, AttributeError):
        return "8g"
    return f"{max(2, min(24, int(total_gib // 5)))}g"


# Defaults chosen for correctness-at-scale, not just local speed.
_DEFAULT_CONF: dict[str, str] = {
    # Adaptive execution: re-plan with runtime stats (join strategy, skew, AQE
    # partition coalescing). Non-negotiable at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce a cached plan's output too. Spark leaves this off,
    # and then a frame held.keep persists has one partition per configured
    # shuffle partition: 32 tasks to scan a few KB, on every read of it.
    # Numbered repartitions are never coalesced.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Arrow-batched transfer for any Python crossing (pandas_udf, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics (parity with the DuckDB oracle, which
    # treats naive timestamps as-is / UTC).
    "spark.sql.session.timeZone": "UTC",
    # Dimension tables (region/nation/supplier/part at TPC-H shape) should
    # broadcast; 64 MB is generous for a 1000-executor cluster with big
    # executors and removes sort-merge shuffles for every star join.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Scan-side split size: 128 MB keeps ~800k input splits at 100 TB, which a
    # 1000-executor cluster drains comfortably.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Whole-stage codegen is on by default; keep fallbacks enabled.
    "spark.sql.codegen.wholeStage": "true",
    # Janino compile of the heavy expression trees (minhash folds, component
    # propagation) costs seconds; the default 100-entry generated-class cache
    # evicts them while a many-query workload cycles, forcing recompiles.
    # Static conf — takes effect for sessions built through this factory.
    "spark.sql.codegen.cache.maxEntries": "2000",
    # Driver testdata carries TIMESTAMP(NANOS) parquet columns (events.ts);
    # read them as raw nano longs and convert in read_parquet — matches the
    # DuckDB/pandas truncation-to-micros semantics.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive (isAdjustedToUTC=false) parquet timestamps read as TIMESTAMP, not
    # TIMESTAMP_NTZ: with the session tz pinned to UTC the values are
    # identical, and LTZ is required by unix_micros, watermarks, and window
    # state — engine policy is "naive means UTC", same as the DuckDB oracle.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Exact shuffle partition count matters less with AQE coalescing; 2x cores
    # locally, and on a real cluster this would be ~2-3x total cores.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # Heap sized from physical RAM (see _default_driver_mem) so the factory
    # launches out of the box on small hosts AND avoids GC-noise spikes on
    # the big bench box.
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
}


def get_spark(
    app_name: str = "agent_data_wrangler_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``); on a
    real deployment the caller passes the cluster master / relies on
    spark-submit. All engine operators are master-agnostic.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
