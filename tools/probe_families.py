"""Isolated per-family scale probe (r10 verdict item 1).

The r10 sweep protocol ran all probe families through ONE JVM back-to-back;
GC/JIT position noise on this shared 32-thread box measured +-25% per query
(gr1: 40.1 s in-sweep vs 29.9 s isolated), which is larger than the effects
the probes exist to detect. This runner executes EVERY family in its own
subprocess — fresh JVM, fresh codegen cache, fresh heap — with the bench
protocol inside each (untimed sf0.001 warmup of the same plan shape, then
two timed noop-sink passes, min):

    python tools/probe_families.py --sf-dir .scratch/sf1 --sf 1.0 \
        [--families lk1,ss1,...] [--out history/BENCH_probe_sfN.json] [--passes 2]

Output schema matches bench.py's payload ({"queries": {...}, "sf": N, ...}),
EXCEPT that "sf" may be a STRING label rather than a number: --sf accepts
non-numeric epoch labels like '1skew' for probes over generated variants, so
payload consumers must tolerate float-or-string sf (bench.py itself always
emits numeric sf). tools/scaling_report.py consumes either unchanged.
Families default to the probe set the r08-r11 verdicts converged on.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: The scale-probe families (r10 set + r11 rs1/px1 + r12 sd1 + r13
#: bp3/li1/mm4/ur1 + r13b bp4/fw1/mm5): the heaviest representative of
#: each at-scale cost family in the registry.
#: FULL names — bare prefixes can be ambiguous ("pq1" also matches
#: pq1_pipe_syntax_revenue).
DEFAULT_FAMILIES = [
    "bl1_blocked_editdist_documents",
    "bm1_bm25_rank_documents",
    "bp3_bpe_train_documents",
    "bp4_bpe_encode_documents",
    "fw1_web_pipeline_funnel_documents",
    "gr1_pagerank_trade_graph",
    "li1_language_id_documents",
    "lk1_split_leakage_documents",
    "mm4_image_neardup_documents",
    "mm5_audio_neardup_documents",
    "n12_incremental_neardup_documents",
    "n5_minhash_neardup_documents",
    "pq1_pq_topk_embeddings",
    "rh1_winnow_fingerprints_documents",
    "rl1_record_linkage_customers",
    "rs1_repeated_ngram_spans_documents",
    "rx1_recursive_reachability",
    "px1_bigram_xent_documents",
    "sd1_semantic_dedup_embeddings",
    "ss1_prefix_jaccard_documents",
    "tr1_triangle_count",
    "ur1_url_domain_dedup_documents",
]

_RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from agent_data_wrangler_spark.session import get_spark
spark = get_spark(app_name="adw-probe")
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
qs = e.queries()
prefix = {prefix!r}
matches = [k for k in qs if k == prefix or k.startswith(prefix + "_")]
assert len(matches) == 1, (prefix, matches)
name = matches[0]
warm_dir = {warm_dir!r}
if os.path.isdir(warm_dir):
    try:
        qs[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
    except Exception as exc:
        print(f"probe: warmup {{name}} failed: {{exc}}", file=sys.stderr)
    spark.catalog.clearCache()
best = None
for _ in range({passes}):
    spark.catalog.clearCache()
    t0 = time.time()
    qs[name](spark, {sf_dir!r}).write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    best = dt if best is None else min(best, dt)
print("PROBE_RESULT " + json.dumps({{"name": name, "sec": best}}), flush=True)
"""


def probe_family(prefix: str, sf_dir: str, warm_dir: str, passes: int) -> tuple[str, float]:
    code = _RUNNER.format(
        repo=REPO, prefix=prefix, warm_dir=warm_dir, sf_dir=sf_dir, passes=passes
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO,
        capture_output=True, text=True, timeout=3600,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("PROBE_RESULT "):
            payload = json.loads(line[len("PROBE_RESULT "):])
            return payload["name"], payload["sec"]
    raise RuntimeError(
        f"probe {prefix} produced no result (rc={proc.returncode}):\n"
        f"{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--sf", required=True,
                    help="scale factor recorded in the payload — a number, "
                    "or a label like '1skew' for non-numeric probe epochs")
    ap.add_argument("--families", default=",".join(DEFAULT_FAMILIES))
    ap.add_argument("--warm-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    queries: dict[str, float] = {}
    for prefix in [f.strip() for f in args.families.split(",") if f.strip()]:
        name, sec = probe_family(prefix, args.sf_dir, args.warm_dir, args.passes)
        queries[name] = round(sec, 3)
        print(f"{name}: {sec:.1f}s", flush=True)
    try:
        sf_val: float | str = float(args.sf)
    except ValueError:
        sf_val = args.sf
    payload = {
        "metric": "isolated_family_probe_min_of_%d" % args.passes,
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "sf": sf_val,
        "protocol": "one fresh JVM per family; sf0.001 warmup; min of "
                    f"{args.passes} noop-sink passes; no concurrent load",
        "queries": queries,
    }
    line = json.dumps(payload)
    print(line)
    if args.out:
        with open(args.out, "w", encoding="utf-8") as fh:
            fh.write(line + "\n")
        print(f"wrote {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
