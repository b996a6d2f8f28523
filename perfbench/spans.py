"""Per-layer tracing for the benchmark, recorded from outside the program.

Spans are opened around calls into each layer's public functions by
wrapping them (the module attribute and every name the registry modules
bound at import), around the query function (``build``) and around the
noop-sink execution (``exec``). Each span carries a name, start, end, parent
span and the call id shared by every span of one call, and stays in memory
until the run writes it out.

Spark jobs are attributed per span: each span sets its own job group, and
after every call the jobs the call started are read back. Jobs in one of the
span groups (``statusTracker().getJobIdsForGroup``) go to that span; jobs
that run under a foreign group (a streaming query's micro-batches run under
the query's run id) go to the innermost span open when they were submitted.
Job and stage metrics come from the Spark UI REST API right after each call,
because the UI keeps only the last 1000 jobs and stages.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import statistics
import sys
import time
import urllib.error
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

# layer name -> module whose public functions open a span of that layer
LAYERS = {
    "readers": "agent_data_wrangler_spark.sources.readers",
    "writers": "agent_data_wrangler_spark.sources.writers",
    "streaming": "agent_data_wrangler_spark.streaming.ops",
    "derived": "agent_data_wrangler_spark.plans.derived",
    "dedup": "agent_data_wrangler_spark.operators.dedup",
    "similarity": "agent_data_wrangler_spark.operators.similarity",
    "graph": "agent_data_wrangler_spark.operators.graph",
}
_PROGRAM_MODULES = ("agent_data_wrangler_spark", "__spark_entry__")


def _rest_time(stamp: str | None) -> float | None:
    """Epoch seconds of a UI REST timestamp such as
    ``2026-10-17T05:40:12.345GMT``; the REST API writes UTC."""
    if not stamp:
        return None
    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._call_id: str | None = None
        self._next_job = 0
        self._streams: list = []
        self._app = self.sc.applicationId
        self._ui = self.sc.uiWebUrl

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, fn: str = ""):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids), "name": name, "fn": fn,
            "parent": parent["id"] if parent else None,
            "call": self._call_id, "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"perfbench.{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(f"perfbench.{top['id']}", top["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, fn.__name__):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> int:
        """Wrap every layer's public functions wherever the program bound
        them; returns the number of bindings replaced."""
        import importlib

        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from agent_data_wrangler_spark.plans import derived, pipeline

        wrapped: dict[int, object] = {}
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            for attr, val in vars(mod).items():
                if (inspect.isfunction(val) and val.__module__ == modname
                        and not attr.startswith("_")):
                    wrapped[id(val)] = self._wrap(val, layer)
        build = derived._build_trade_graph
        wrapped[id(build)] = self._wrap(build, "derived.build")
        replaced = 0
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(_PROGRAM_MODULES):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in wrapped and inspect.isfunction(val):
                    setattr(mod, attr, wrapped[id(val)])
                    replaced += 1
        pipeline.Pipeline.run = self._wrap(pipeline.Pipeline.run, "pipeline")

        start = DataStreamWriter.start

        @functools.wraps(start)
        def start_and_record(writer, *args, **kwargs):
            query = start(writer, *args, **kwargs)
            if self.enabled:
                self._streams.append(query)
            return query

        DataStreamWriter.start = start_and_record
        return replaced + 2  # and the two methods above

    # -- one call ----------------------------------------------------------
    @contextmanager
    def call(self, query: str, pass_no: int):
        self._call_id = f"{pass_no}:{query}"
        self._streams = []
        self._next_job = self._submitted_jobs()
        with self.span("call", query) as rec:
            yield rec

    def finish_call(self, root: dict, query: str, leaked: int) -> dict:
        """Read back the Spark work of the call that just returned and fold
        its spans into one record."""
        spans = [s for s in self.spans if s["call"] == root["call"]]
        jobs = self._read_jobs(root, spans)
        stages = self._read_stages(jobs)
        rec = self._fold(root, query, spans, jobs, stages)
        rec["persist_leaked"] = leaked
        batches = rows = 0
        for q in self._streams:
            for p in q.recentProgress:
                batches += 1
                rows += (p["numInputRows"] if isinstance(p, dict)
                         else p.numInputRows)
        rec["streaming_batches"], rec["streaming_input_rows"] = batches, rows
        return rec

    def _submitted_jobs(self) -> int:
        nxt = self.sc._jsc.sc().dagScheduler().nextJobId()
        return nxt if isinstance(nxt, int) else nxt.get()

    def _get(self, path: str):
        url = f"{self._ui}/api/v1/applications/{self._app}/{path}"
        try:
            with urllib.request.urlopen(url, timeout=30) as resp:
                return json.load(resp)
        except urllib.error.HTTPError as exc:
            if exc.code == 404:
                return None
            raise

    def _read_jobs(self, root: dict, spans: list[dict]) -> list[dict]:
        # The UI store is fed by the listener bus; drain it so every job and
        # stage of the call shows its final metrics.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        first, self._next_job = self._next_job, self._submitted_jobs()
        owner = {}
        tracker = self.sc.statusTracker()
        for s in spans:
            for jid in tracker.getJobIdsForGroup(f"perfbench.{s['id']}"):
                owner[jid] = s
        jobs = []
        for jid in range(first, self._next_job):
            info = self._get(f"jobs/{jid}")
            if info is None:
                continue
            sub = _rest_time(info.get("submissionTime"))
            end = _rest_time(info.get("completionTime")) or sub
            span = owner.get(jid)
            if span is None:
                open_then = [s for s in spans if s["start"] <= sub <= s["end"]]
                span = max(open_then, key=lambda s: s["start"]) if open_then else root
            jobs.append({"id": jid, "span": span["id"], "start": sub, "end": end,
                         "stages": info.get("stageIds", [])})
        return jobs

    def _read_stages(self, jobs: list[dict]) -> dict[int, dict]:
        stages = {}
        for job in jobs:
            for sid in job["stages"]:
                if sid in stages:
                    continue
                attempts = self._get(f"stages/{sid}?details=false") or []
                ran = [a for a in attempts if a.get("status") != "SKIPPED"]
                if ran:
                    stages[sid] = {"job": job["id"], "attempts": ran}
        return stages

    def _fold(self, root, query, spans, jobs, stages) -> dict:
        children: dict[int, list[dict]] = {}
        for s in spans:
            children.setdefault(s["parent"], []).append(s)

        def subtree(s):
            out, todo = [], [s]
            while todo:
                cur = todo.pop()
                out.append(cur["id"])
                todo.extend(children.get(cur["id"], []))
            return set(out)

        def stage_sum(job_ids, key, scale=1.0):
            return sum(a.get(key, 0) for st in stages.values() if st["job"] in job_ids
                       for a in st["attempts"]) * scale

        def work(span_ids):
            js = [j for j in jobs if j["span"] in span_ids]
            ids = {j["id"] for j in js}
            return {
                "jobs": len(js),
                "job_s": _union([(j["start"], j["end"]) for j in js]),
                "stages": sum(len(st["attempts"]) for st in stages.values()
                              if st["job"] in ids),
                "tasks": stage_sum(ids, "numCompleteTasks"),
                "failed_tasks": stage_sum(ids, "numFailedTasks"),
                "task_s": stage_sum(ids, "executorRunTime", 1e-3),
                "cpu_s": stage_sum(ids, "executorCpuTime", 1e-9),
                "gc_s": stage_sum(ids, "jvmGcTime", 1e-3),
                "shuffle_read_mb": stage_sum(ids, "shuffleReadBytes", 1e-6),
                "shuffle_write_mb": stage_sum(ids, "shuffleWriteBytes", 1e-6),
                "spill_mb": stage_sum(ids, "diskBytesSpilled", 1e-6),
                "input_mb": stage_sum(ids, "inputBytes", 1e-6),
                "output_mb": stage_sum(ids, "outputBytes", 1e-6),
            }

        by_id = {s["id"]: s for s in spans}

        def outermost(layer):
            """Spans of ``layer`` with no ancestor of the same layer."""
            out = []
            for s in spans:
                if s["name"] != layer:
                    continue
                p = by_id.get(s["parent"])
                while p is not None and p["name"] != layer:
                    p = by_id.get(p["parent"])
                if p is None:
                    out.append(s)
            return out

        def layer(name):
            top = outermost(name)
            ids = set().union(*(subtree(s) for s in top)) if top else set()
            return {"calls": len(top),
                    "s": sum(s["end"] - s["start"] for s in top), **work(ids)}

        build = next(s for s in spans if s["name"] == "build")
        exe = next(s for s in spans if s["name"] == "exec")
        rec = {"query": query, "call": root["call"],
               "wall_s": root["end"] - root["start"],
               "build_s": build["end"] - build["start"],
               "exec_s": exe["end"] - exe["start"],
               "build": work(subtree(build)),
               "exec": work(subtree(exe)),
               "all": work(subtree(root))}
        rec["build"]["driver_s"] = rec["build_s"] - rec["build"]["job_s"]
        for name in ("readers", "writers", "streaming", "derived", "derived.build",
                     "pipeline", "dedup", "similarity", "graph"):
            rec[name] = layer(name)
        derived_calls = [s for s in spans if s["name"] == "derived"
                         and s["fn"] == "trade_graph_tables"]
        rec["derived_hits"] = sum(
            1 for s in derived_calls
            if not any(by_id[c]["name"] == "derived.build" for c in subtree(s)))
        rec["derived_calls"] = len(derived_calls)
        rec["task_skew"] = self._skew(stages)
        return rec

    def _skew(self, stages: dict[int, dict]) -> float | None:
        """Max over median task time in the call's longest stage."""
        best = None
        for sid, st in stages.items():
            for a in st["attempts"]:
                if best is None or a.get("executorRunTime", 0) > best[2]:
                    best = (sid, a["attemptId"], a.get("executorRunTime", 0))
        if best is None or best[2] <= 0:
            return None
        summ = self._get(f"stages/{best[0]}/{best[1]}/taskSummary?quantiles=0.5,1.0")
        med, top = (summ or {}).get("executorRunTime", [0, 0])
        return top / med if med > 0 else None


def pass_metrics(calls: list[dict], cores: int) -> dict[str, float]:
    """Per-layer totals of one traced pass."""
    def tot(path):
        out = 0.0
        for c in calls:
            v = c
            for k in path.split("/"):
                v = v[k]
            out += v
        return out

    wall = tot("wall_s")
    skews = [c["task_skew"] for c in calls if c["task_skew"] is not None]
    d_calls = tot("derived_calls")
    return {
        "build.driver_s": tot("build/driver_s"),
        "build.jobs": tot("build/jobs"),
        "build.job_s": tot("build/job_s"),
        "build.task_s": tot("build/task_s"),
        "exec.s": tot("exec_s"),
        "exec.jobs": tot("exec/jobs"),
        "exec.stages": tot("exec/stages"),
        "exec.tasks": tot("exec/tasks"),
        "exec.task_s": tot("exec/task_s"),
        "exec.cpu_s": tot("exec/cpu_s"),
        "exec.gc_s": tot("exec/gc_s"),
        "exec.shuffle_read_mb": tot("exec/shuffle_read_mb"),
        "exec.shuffle_write_mb": tot("exec/shuffle_write_mb"),
        "exec.spill_mb": tot("exec/spill_mb"),
        "exec.input_mb": tot("exec/input_mb"),
        "spark.core_busy": tot("all/task_s") / (wall * cores) if wall else 0.0,
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
        "spark.failed_tasks": tot("all/failed_tasks"),
        "readers.calls": tot("readers/calls"),
        "readers.s": tot("readers/s"),
        "readers.jobs": tot("readers/jobs"),
        "writers.calls": tot("writers/calls"),
        "writers.s": tot("writers/s"),
        "writers.mb": tot("writers/output_mb"),
        "streaming.drain_s": tot("streaming/s"),
        "streaming.batches": tot("streaming_batches"),
        "streaming.input_rows": tot("streaming_input_rows"),
        "derived.build_s": tot("derived.build/s"),
        "derived.hit_ratio": tot("derived_hits") / d_calls if d_calls else 0.0,
        "pipeline.run_s": tot("pipeline/s"),
        "dedup.s": tot("dedup/s"),
        "dedup.jobs": tot("dedup/jobs"),
        "similarity.s": tot("similarity/s"),
        "similarity.jobs": tot("similarity/jobs"),
        "graph.s": tot("graph/s"),
        "graph.jobs": tot("graph/jobs"),
        "persist.leaked": tot("persist_leaked"),
    }
