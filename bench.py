"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data) on local[$SPARK_GRAFT_CPUS], writes the full
per-query payload to $SPARK_GRAFT_BENCH_OUT (default BENCH_local_latest.json
next to this file) and prints one summary line
{"metric": ..., "value": N, "unit": "sec", "sf": ...} as the last stdout line.

Each query is forced through a noop sink (df.write.format("noop")) so the full
plan executes — aggregation, shuffle, window — without driver-side collect
costs polluting the measurement.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # The trade-graph rollup (plans/derived.py) is a materialized view keyed
    # on the source tables' identity: correct for production, but across bench
    # runs on the same testdata it would mean gr1/tr1/rx1/dg1/dg2 never pay
    # the build after the first-ever run on a box. Point the cache at a fresh
    # per-run temp dir so pass 1 pays the build, min-of-2 reports the
    # steady-state (amortized) cost, and nothing carries across runs.
    _rollup_dir = tempfile.mkdtemp(prefix="adw_bench_rollup_")
    os.environ["ADW_CACHE_DIR"] = _rollup_dir
    atexit.register(shutil.rmtree, _rollup_dir, ignore_errors=True)
    from agent_data_wrangler_spark.session import get_spark

    spark = get_spark(app_name="adw-bench")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs = e.queries()
    # Targeted probes (the sfN scale runs) bench a named subset:
    # $SPARK_GRAFT_BENCH_ONLY is a comma-separated list of query names or
    # name prefixes ("ss1,rl1" matches ss1_prefix_jaccard_documents). The
    # protocol (warmup + min-of-2) is unchanged — only the query set
    # shrinks, so subset numbers are directly comparable to full-run ones.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    if only:
        prefixes = tuple(p.strip() for p in only.split(",") if p.strip())
        qs = {n: f for n, f in qs.items()
              if n in prefixes or n.startswith(tuple(p + "_" for p in prefixes))}
        if not qs:
            raise SystemExit(
                f"SPARK_GRAFT_BENCH_ONLY={only!r} matched no registered query")
        # A subset run must NEVER clobber the full-run capture: the
        # regression gate (tests/test_bench_regression.py) reads
        # BENCH_local_latest.json, and a 1-query payload there would make
        # the gate skip-forever until someone re-runs the full bench.
        # Divert the default out path; an explicit SPARK_GRAFT_BENCH_OUT
        # still goes wherever the caller pointed it.
        if "SPARK_GRAFT_BENCH_OUT" not in os.environ:
            os.environ["SPARK_GRAFT_BENCH_OUT"] = os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "BENCH_local_subset.json")
    # Untimed warmup of EVERY query at the smallest SF: Spark's codegen cache
    # is keyed by generated source, so running each plan shape once on tiny
    # data pays the Janino/JIT compile (measured 5-10s for the heavy minhash /
    # component-propagation expressions — dwarfing their actual sf0.1 compute)
    # outside the timed loop. The timed numbers then measure steady-state
    # per-query cost — the quantity that extrapolates to a long-lived cluster
    # — not one-time JVM compilation (round-1/round-4 lesson).
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in sorted(qs):
        try:
            qs[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:
            print(f"bench: warmup {name} failed: {exc}", file=sys.stderr)
        try:
            spark.catalog.clearCache()
        except Exception:
            pass

    # Two full timed passes, min per query: single-shot numbers on a shared
    # 32-thread JVM carry multi-second GC/scheduling spikes that land on
    # random queries; the per-query min is the steady-state cost (the
    # quantity that extrapolates to cluster throughput). Both passes run the
    # full plan — no caching carries between queries (cleared below).
    timings: dict[str, float] = {}
    wall_start = time.perf_counter()
    for _pass in range(2):
        for name in sorted(qs):
            start = time.perf_counter()
            try:
                df = qs[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                took = round(time.perf_counter() - start, 3)
                prev = timings.get(name)
                timings[name] = took if prev is None or prev < 0 else min(prev, took)
            except Exception as exc:  # keep the bench line parseable on failure
                timings.setdefault(name, -1.0)
                print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
            # Queries are independent: drop persisted frames and memory-sink
            # tables between them (outside the timing window) so cache
            # accumulation from earlier queries can't GC-tax later ones.
            try:
                spark.catalog.clearCache()
            except Exception:
                pass
    # Protocol note (changed in round 4, labeled since round 5): `value` is
    # the SUM OF PER-QUERY MINIMUMS across the two timed passes (failed
    # queries excluded) — the steady-state cost. `wall_clock_s` is the raw
    # elapsed time of both timed passes for anyone comparing against the
    # r1-r3 single-pass bench lines, where `value` meant one-pass wall clock.
    total = round(sum(v for v in timings.values() if v > 0), 3)
    wall_clock = round(time.perf_counter() - wall_start, 3)

    sf_raw = sf_dir.rstrip("/").split("sf")[-1]
    sf = float(sf_raw) if sf_raw.replace(".", "").isdigit() else sf_raw
    payload = {
        "metric": "total_query_wall_time",
        "value": total,
        "unit": "sec",
        "protocol": "sum_of_min_of_2_passes",
        "wall_clock_s": wall_clock,
        "queries": timings,
        "sf": sf,
    }
    # Per-query timings go to a file, not stdout: commit it as
    # history/BENCH_local_rNN.json when recording a round.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_local_latest.json"))
    try:
        with open(out_path, "w", encoding="utf-8") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError as exc:
        print(f"bench: could not write {out_path}: {exc}", file=sys.stderr)
    summary = {k: v for k, v in payload.items() if k != "queries"}
    print(json.dumps({
        **summary, "n_queries": len(timings),
        "failed": sorted(k for k, v in timings.items() if v < 0)}))


if __name__ == "__main__":
    main()
