"""Per-query bench regression gate (r08 verdict item 6).

Compares the most recent local bench capture (``BENCH_local_latest.json``,
written by every ``python bench.py`` run) against the committed baseline
``BASELINE`` (sf0.1, all 228 queries, captured after the r14 plan changes)
and fails on any query that regressed more than 2x — but only for queries
whose committed time exceeds 0.5 s, which filters the run-to-run noise floor
(±20% plus multi-second GC spikes on a shared 32-thread JVM; see
.claude/skills/verify/SKILL.md) while still catching real plan
regressions (a lost broadcast, a new cartesian, a dropped pushdown turns
a 1 s query into 5-30 s) before the driver's round bench does.

The gate SKIPS when the latest capture predates the committed record or
covers a different SF / query subset — a stale or targeted-probe capture
is not evidence either way. It never skips silently on a fresh full run.
"""

from __future__ import annotations

import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LATEST = os.path.join(REPO, "BENCH_local_latest.json")
BASELINE = "history/BENCH_local_r14_mid.json"

# Noise filter: committed minimum must exceed this for the ratio to mean
# anything; sub-half-second queries flap 2-3x on scheduler jitter alone.
MIN_COMMITTED_S = 0.5
MAX_RATIO = 2.0


def test_no_per_query_bench_regression():
    ref_path = os.path.join(REPO, BASELINE)
    with open(ref_path, encoding="utf-8") as fh:
        ref = json.load(fh)
    if not os.path.exists(LATEST):
        pytest.skip("no BENCH_local_latest.json — run python bench.py")
    if os.path.getmtime(LATEST) < os.path.getmtime(ref_path):
        pytest.skip(f"{LATEST} predates {BASELINE} — stale capture")
    with open(LATEST, encoding="utf-8") as fh:
        latest = json.load(fh)
    if latest.get("sf") != ref.get("sf"):
        pytest.skip(
            f"latest capture is sf={latest.get('sf')}, committed record is "
            f"sf={ref.get('sf')} — targeted probe, not comparable")
    ref_q, new_q = ref["queries"], latest["queries"]
    common = {
        q for q in set(ref_q) & set(new_q)
        if ref_q[q] >= MIN_COMMITTED_S and new_q[q] > 0
    }
    if len(new_q) < len(ref_q) // 2:
        pytest.skip(
            f"latest capture covers {len(new_q)}/{len(ref_q)} queries — "
            "subset probe, not a full-run comparison")
    regressed = sorted(
        (q, ref_q[q], new_q[q]) for q in common
        if new_q[q] / ref_q[q] > MAX_RATIO
    )
    assert not regressed, (
        f"per-query regressions > {MAX_RATIO}x vs {BASELINE} "
        "(committed_s, latest_s): "
        + ", ".join(f"{q} ({a:.2f} -> {b:.2f})" for q, a, b in regressed)
    )
    failed = sorted(q for q, v in new_q.items() if v < 0)
    assert not failed, f"queries FAILED in the latest bench run: {failed}"
