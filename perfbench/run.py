"""Closed-loop benchmark of the query registry, one client on local[4].

Drives the registered queries (``__spark_entry__.queries()``) the way the
agent loop does: one call at a time, each call being the query function plus
a noop-sink execution of the DataFrame it returns, on one SparkSession.

A run generates the workload's tables from ``--seed`` (perfbench/gen.py),
starts the session and imports the registry. Its one untimed warm-up pass is
also the output check: it collects every query and compares the rows with
the query's DuckDB oracle (``__spark_entry__.oracle_sql()``). It then times
whole passes over the workload's query list, each in an order shuffled from
the seed, until ``--seconds`` have passed. Before every pass
``ADW_CACHE_DIR`` points at a fresh directory; after it, the bytes the pass
left under the run's ``TMPDIR`` and in new ``/dev/shm/adw_*`` entries are
measured and deleted.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``; the
per-layer metrics with ``--trace 1``, see perfbench/spans.py). The full
record of the run, spans included, goes to ``.perfbench_out/``.

Usage: python3 perfbench/run.py --workload clean --seed 1 --seconds 9 --trace 0
"""

from __future__ import annotations

import time

_PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
# Timed passes per run, at least; more while --seconds last.
MIN_PASSES = 1
SHM = "/dev/shm"

# Query lists use the registry's short names (``t1`` is
# ``t1_median_fill_events``); a nested list runs as one unit, in its own
# order. scale is in sf0.001 units (perfbench/gen.py). Each pass runs an odd
# number of queries, so the median call falls inside one query's samples
# rather than in the gap between two.
WORKLOADS = {
    "clean": {
        "scale": 10, "docs": 500, "vecs": 500,
        "queries": ["t1", "t2", "t5", "f1_f2", "p5", "p7", "dq1", "cq1", "csv1",
                    "pl1", "pl2"],
    },
    "heavy": {
        "scale": 5, "docs": 500, "vecs": 500,
        # gr1 builds the pass's trade-graph rollup, dg2 then reads it.
        "queries": ["ss1", "sd1", "st1", ["gr1", "dg2"]],
    },
}


def _load_parity():
    """The row-multiset normalisation of tests/test_oracle_parity.py."""
    path = os.path.join(ROOT, "tests", "test_oracle_parity.py")
    spec = importlib.util.spec_from_file_location("_perfbench_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _tree_bytes(path: str) -> int:
    if os.path.isfile(path) or os.path.islink(path):
        return os.lstat(path).st_size
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def _remove(path: str) -> None:
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        try:
            os.remove(path)
        except OSError:
            pass


class TempLedger:
    """What the run leaves in temp storage: everything under its TMPDIR and
    the ``/dev/shm/adw_*`` entries that appeared after the run started."""

    def __init__(self, tmp: str):
        self.tmp = tmp
        self.before = set(self._shm())

    @staticmethod
    def _shm() -> list[str]:
        try:
            return [n for n in os.listdir(SHM) if n.startswith("adw_")]
        except OSError:
            return []

    def _entries(self) -> list[str]:
        ours = [os.path.join(self.tmp, n) for n in os.listdir(self.tmp)]
        uid = os.getuid()
        for n in self._shm():
            p = os.path.join(SHM, n)
            try:
                mine = os.lstat(p).st_uid == uid
            except OSError:
                continue
            if n not in self.before and mine:
                ours.append(p)
        return ours

    def sweep(self) -> int:
        """Measure, then delete, what was left; returns bytes."""
        entries = self._entries()
        size = sum(_tree_bytes(p) for p in entries)
        for p in entries:
            _remove(p)
        return size


def _tail(calls: list[dict]) -> tuple[float, float, int]:
    """Tail call latency: (value, percentile, calls).

    With 40 calls or more, the highest percentile that has at least ten
    calls above it (at least p75). With fewer, that percentile would be
    near or under the median, so the median over passes of each pass's
    slowest call stands in for it (percentile 100)."""
    lat = sorted(c["wall_s"] for c in calls)
    if len(lat) >= 40:
        k = len(lat) - 11
        return lat[k], 100.0 * (k + 1) / len(lat), len(lat)
    slowest: dict[object, float] = {}
    for c in calls:
        slowest[c["pass"]] = max(slowest.get(c["pass"], 0.0), c["wall_s"])
    return statistics.median(slowest.values()), 100.0, len(lat)


def _declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _steal_s() -> float:
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the driver JVM")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="Closed-loop query benchmark.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "agent_data_wrangler_spark"))):
        print(f"perfbench: no program to benchmark under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        record = Run(args, run_dir).execute()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps(record["result"]))
    return 0


class Run:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.data = os.path.join(run_dir, "data")
        self.tmp = os.path.join(run_dir, "tmp")
        jtmp = os.path.join(run_dir, "jvm-tmp")
        local = os.path.join(run_dir, "spark-local")
        for d in (self.tmp, jtmp, local):
            os.makedirs(d)
        # Everything the program puts in temp storage lands in the run dir,
        # apart from its /dev/shm scratch, which the ledger tracks.
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-java-options -Djava.io.tmpdir={jtmp} pyspark-shell")
        self.ledger = TempLedger(self.tmp)
        self.rng = random.Random(args.seed)
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": args.trace}

    def execute(self) -> dict:
        sys.path.insert(0, HERE)
        import gen

        t = time.perf_counter()
        self.record["rows"] = gen.write(
            self.data, self.args.seed, self.wl["scale"], self.wl["docs"],
            self.wl["vecs"])
        gen_s = time.perf_counter() - t

        sys.path.insert(0, ROOT)
        t = time.perf_counter()
        from agent_data_wrangler_spark.session import get_spark

        spark = get_spark(app_name="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        try:
            return self._drive(spark, gen_s, session_s)
        finally:
            _stop(spark)

    def _drive(self, spark, gen_s: float, session_s: float) -> dict:
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        t = time.perf_counter()
        import __spark_entry__ as entry

        registry, oracles = entry.queries(), entry.oracle_sql()
        import_s = time.perf_counter() - t
        self.units = [
            [self._resolve(registry, q) for q in ([u] if isinstance(u, str) else u)]
            for u in self.wl["queries"]]
        self.record["queries"] = [n for unit in self.units for n in unit]

        tracer = None
        if self.args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            self.record["wrapped_bindings"] = tracer.install()

        # The warm-up pass is the output check: it runs every query cold,
        # collects it and compares it with the oracle. Oracle time is not
        # set-up time.
        t = time.perf_counter()
        checks, oracle_s = self._verify(spark, registry, oracles)
        warm_s = time.perf_counter() - t - oracle_s
        self.ledger.sweep()
        setup_s = time.perf_counter() - _PROCESS_START - gen_s - oracle_s

        steal = _steal_s()
        calls: list[dict] = []
        passes = []
        deadline = time.perf_counter() + self.args.seconds
        i = 0
        # A traced run brackets its traced pass with untraced ones, so the
        # overhead ratio is not skewed by passes still speeding up.
        min_passes = 3 if tracer is not None else MIN_PASSES
        while len(passes) < min_passes or time.perf_counter() < deadline:
            traced = tracer is not None and i % 2 == 1
            passes.append(self._pass(spark, registry, i, calls,
                                     tracer if traced else None))
            passes[-1]["leftover_b"] = self.ledger.sweep()
            i += 1
        peak_rss = _peak_rss_mb(jvm_pid)
        # CPU time the host took from this machine during the timed passes.
        self.record["steal_s"] = _steal_s() - steal

        failed = sum(1 for c in calls + checks if not c["ok"])
        attempted = len(calls) + len(checks)
        self.record.update(
            calls=calls, checks=checks, passes=passes, setup_s=setup_s,
            session_start_s=session_s, registry_import_s=import_s,
            warm_s=warm_s, gen_s=gen_s, oracle_s=oracle_s, peak_rss_mb=peak_rss,
            fail_ratio=failed / attempted)
        untraced = [p for p in passes if not p["traced"]]
        plain = [c for c in calls if not c["traced"] and c["ok"]]
        tail, tail_pct, tail_n = _tail(plain)
        self.record["tail"] = {"percentile": tail_pct, "samples": tail_n}
        if self.args.trace:
            metrics = self._layer_metrics(tracer, passes, untraced, setup=(
                session_s, warm_s, import_s))
        else:
            metrics = {
                "setup_s": setup_s,
                "pass_s": statistics.median(p["wall_s"] for p in untraced),
                "query_p50_s": statistics.median(c["wall_s"] for c in plain),
                "query_tail_s": tail,
                "leftover_mb": statistics.median(
                    p["leftover_b"] for p in passes) / 1e6,
            }
        units = _declared("per_layer" if self.args.trace else "end_to_end")
        self.record["result"] = {
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
        return self.record

    def _order(self) -> list[str]:
        """The workload's queries in a fresh seeded order; a group of
        queries keeps its own order and stays together."""
        units = list(self.units)
        self.rng.shuffle(units)
        return [n for unit in units for n in unit]

    @staticmethod
    def _resolve(registry: dict, short: str) -> str:
        hits = [n for n in registry if n == short or n.startswith(short + "_")]
        if len(hits) != 1:
            raise SystemExit(f"perfbench: query {short!r} matches {hits}")
        return hits[0]

    def _pass(self, spark, registry, pass_no, calls, tracer) -> dict:
        os.environ["ADW_CACHE_DIR"] = os.path.join(self.tmp, f"adw_cache_{pass_no}")
        order = self._order()
        sink_s = 0.0
        if tracer is not None:
            tracer.enabled = True
        start = time.perf_counter()
        for name in order:
            ok, err = True, None
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    df = registry[name](spark, self.data)
                    df.write.format("noop").mode("overwrite").save()
                else:
                    with tracer.call(name, pass_no) as root:
                        with tracer.span("build", name):
                            df = registry[name](spark, self.data)
                        with tracer.span("exec", name):
                            df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failed call counts, the loop goes on
                ok, err = False, f"{type(exc).__name__}: {str(exc)[:300]}"
            row = {"pass": pass_no, "query": name, "ok": ok,
                   "wall_s": time.perf_counter() - t0, "traced": tracer is not None}
            if err:
                row["error"] = err
            if tracer is not None and ok:
                # Trace read-back is bookkeeping, not part of the pass.
                t1 = time.perf_counter()
                leaked = spark.sparkContext._jsc.getPersistentRDDs().size()
                row["trace"] = tracer.finish_call(root, name, leaked)
                sink_s += time.perf_counter() - t1
            spark.catalog.clearCache()
            calls.append(row)
        wall = time.perf_counter() - start - sink_s
        if tracer is not None:
            tracer.enabled = False
        return {"pass": pass_no, "traced": tracer is not None, "wall_s": wall}

    def _verify(self, spark, registry, oracles) -> tuple[list[dict], float]:
        """Collect every query and compare it with its DuckDB oracle;
        returns the checks and the seconds spent on the oracle side."""
        t = time.perf_counter()
        parity = _load_parity()
        con = parity._duck(self.data)
        oracle_s = time.perf_counter() - t
        os.environ["ADW_CACHE_DIR"] = os.path.join(self.tmp, "adw_cache_check")
        order = self._order()
        checks = []
        for name in order:
            ok, err = False, None
            t0 = time.perf_counter()
            try:
                s_rows, s_cols = parity._collect_spark(registry[name](spark, self.data))
                t = time.perf_counter()
                d_rows, d_cols = parity._collect_duck(con, oracles[name])
                ok = ([c.lower() for c in s_cols] == [c.lower() for c in d_cols]
                      and s_rows == d_rows)
                oracle_s += time.perf_counter() - t
                if not ok:
                    err = f"mismatch: {len(s_rows)} spark rows, {len(d_rows)} oracle rows"
            except Exception as exc:
                err = f"{type(exc).__name__}: {str(exc)[:300]}"
            spark.catalog.clearCache()
            checks.append({"query": name, "ok": ok, "wall_s": time.perf_counter() - t0,
                           **({"error": err} if err else {})})
        con.close()
        return checks, oracle_s

    def _layer_metrics(self, tracer, passes, untraced, setup) -> dict:
        from spans import pass_metrics

        traced = [p for p in passes if p["traced"]]
        per_pass = []
        for p in traced:
            rows = [c["trace"] for c in self.record["calls"]
                    if c["pass"] == p["pass"] and "trace" in c]
            per_pass.append(pass_metrics(rows, CORES))
        self.record["layer_passes"] = per_pass
        self.record["spans"] = tracer.spans
        self.record["coverage"] = _coverage(self.record["calls"])
        metrics = {k: statistics.median(pp[k] for pp in per_pass)
                   for k in per_pass[0]}
        session_s, warm_s, import_s = setup
        metrics["session.start_s"] = session_s
        metrics["session.warm_s"] = warm_s
        metrics["registry.import_s"] = import_s
        metrics["jvm.peak_rss_mb"] = self.record["peak_rss_mb"]
        metrics["trace.overhead"] = (
            statistics.median(p["wall_s"] for p in traced)
            / statistics.median(p["wall_s"] for p in untraced))
        return metrics


def _coverage(calls: list[dict]) -> dict:
    """How well the spans account for the calls: the least share of a traced
    call's wall time covered by its build and exec spans, and the median
    ratio of a traced call to the same query's untraced median."""
    plain: dict[str, list[float]] = {}
    for c in calls:
        if not c["traced"] and c["ok"]:
            plain.setdefault(c["query"], []).append(c["wall_s"])
    shares, ratios = [], []
    for c in calls:
        tr = c.get("trace")
        if tr is None:
            continue
        shares.append((tr["build_s"] + tr["exec_s"]) / tr["wall_s"])
        if c["query"] in plain:
            ratios.append(c["wall_s"] / statistics.median(plain[c["query"]]))
    return {"min_span_share": min(shares, default=None),
            "traced_call_ratio": statistics.median(ratios) if ratios else None,
            "build_driver_job_share": _share(calls, ("driver_s", "job_s"))}


def _share(calls: list[dict], keys: tuple[str, ...]) -> float | None:
    """Share of traced call time spent in the build span's ``keys``."""
    traced = [c["trace"] for c in calls if "trace" in c]
    wall = sum(t["wall_s"] for t in traced)
    part = sum(t["build"][k] for t in traced for k in keys)
    return part / wall if wall else None


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
