"""Per-stage timing/shuffle profile for one registered query (guide §1).

Runs the named query with the bench protocol (untimed sf0.001 warmup, then a
timed noop-sink pass at $SPARK_GRAFT_SF_DIR), then reads the Spark UI REST API
for the stages of exactly that timed run and prints, per stage: wall time,
task time, shuffle read/write bytes, input bytes, and the stage name — the
"where is the time going" table the optimization guide's empirical loop needs.

Usage: python tools/stage_profile.py QUERY [QUERY ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from datetime import datetime

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _rest(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=10) as fh:
        return json.load(fh)


def _stage_wall_s(stage: dict) -> float:
    """Seconds from a stage's first task launch to its completion (0 when
    either stamp is missing). The REST stamps (``...T05:40:12.345GMT``) are
    UTC, so they are subtracted as naive datetimes, never via local time."""
    start, end = stage.get("firstTaskLaunchedTime"), stage.get("completionTime")
    if not (start and end):
        return 0.0
    a, b = (datetime.strptime(t.removesuffix("GMT"), "%Y-%m-%dT%H:%M:%S.%f")
            for t in (start, end))
    return (b - a).total_seconds()


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")

    from agent_data_wrangler_spark.session import get_spark

    spark = get_spark(app_name="stage-profile")
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"

    import __spark_entry__ as e

    qs = e.queries()
    for name in names:
        # Warm the plan shape (codegen) untimed, like bench.py.
        qs[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        jobs_before = {j["jobId"] for j in _rest(base, "/jobs")}
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        took = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        spark.catalog.clearCache()
        jobs = [j for j in _rest(base, "/jobs") if j["jobId"] not in jobs_before]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        print(f"\n=== {name}: {took:.3f}s wall, {len(jobs)} jobs, "
              f"{len(stage_ids)} stages ===")
        rows = []
        for sid in stage_ids:
            try:
                attempts = _rest(base, f"/stages/{sid}")
            except Exception:
                continue
            for st in attempts:
                if st.get("status") != "COMPLETE":
                    continue
                rows.append((
                    sid, _stage_wall_s(st), st["executorRunTime"] / 1000.0,
                    st["numCompleteTasks"],
                    st["inputBytes"], st["shuffleReadBytes"],
                    st["shuffleWriteBytes"],
                    st["name"].split("\n")[0][:90],
                ))
        rows.sort(key=lambda r: -r[1])
        print(f"{'stage':>5} {'wall_s':>7} {'task_s':>7} {'tasks':>5} "
              f"{'input':>10} {'sh_read':>10} {'sh_write':>10}  name")
        for r in rows:
            print(f"{r[0]:>5} {r[1]:>7.2f} {r[2]:>7.2f} {r[3]:>5} "
                  f"{r[4]:>10} {r[5]:>10} {r[6]:>10}  {r[7]}")


if __name__ == "__main__":
    main()
