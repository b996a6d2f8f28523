"""Registry-wide physical-plan audit: one row per registered query with the
plan features the 100 TB claims rest on (shuffle/broadcast/generate counts,
nested-loop hazards, cached-subtree reuse). Writes PLANS.md.

Usage: python tools/plan_audit.py [sf_dir]  (default /root/testdata/sf0.01)

Initial (pre-AQE) plans are inspected — the same view the plan-shape tests
pin — so counts are comparable across data sizes; queries that stage files
or drain streams are executed by construction of their query functions, but
nothing here collects result rows.
"""

from __future__ import annotations

import os
import sys


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.ui.enabled", "false")
        .appName("plan-audit")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    from agent_data_wrangler_spark.operators.held import held

    queries = entry.queries()
    features = (
        ("Exchange hashpartitioning", "shuf"),
        ("Exchange SinglePartition", "single"),
        ("Exchange rangepartitioning", "range"),
        ("BroadcastHashJoin", "bcast"),
        ("SortMergeJoin", "smj"),
        ("Generate", "gen"),
        ("InMemoryTableScan", "cache"),
        ("TakeOrderedAndProject", "topk"),
        ("BroadcastNestedLoopJoin", "bnlj"),
        ("CartesianProduct", "cart"),
    )
    rows, errors = [], []
    for name in sorted(queries):
        try:
            # a checkpointed entry is audited on its working plan
            build = getattr(queries[name], "__wrapped__", None)
            with held() as h:
                df = (build(h, spark, sf_dir) if build
                      else queries[name](spark, sf_dir))
                plan = df._jdf.queryExecution().executedPlan().toString()
            rows.append(
                (name, [plan.count(tag) for tag, _ in features])
            )
        except Exception as exc:  # streams/stage-heavy queries may need setup
            errors.append((name, f"{type(exc).__name__}: {exc}"))
    out = os.path.join(repo, "PLANS.md")
    with open(out, "w") as f:
        f.write(
            "# PLANS — registry-wide physical-plan audit\n\n"
            f"Initial (pre-AQE) plans at `{sf_dir}`; regenerate with "
            "`python tools/plan_audit.py`.\n\n"
            "Columns: shuffle exchanges / single-partition exchanges / "
            "range exchanges / broadcast hash joins / sort-merge joins / "
            "generates (explodes) / cached-subtree reads / top-k operators / "
            "broadcast nested loops (1-row-broadcast crossJoins only) / "
            "cartesian products (banned — always 0). Counts include the "
            "repeated text of cached-plan children, so treat them as upper "
            "bounds; the enforced pins live in tests/test_plan_shapes.py. "
            "Entries declared `checkpointed` (operators/held.py: tw1, "
            "px1, n5, ...) are audited on their working plan; queries "
            "whose operators checkpoint internally (lk1, ss1, sd1, ...) "
            "show the FLAT post-checkpoint scan here (all-zero rows), and "
            "their working plans are pinned by per-query tests in "
            "tests/test_plan_shapes.py instead.\n\n"
            "| query | shuf | single | range | bcast | smj | gen | cache "
            "| topk | bnlj | cart |\n"
            "|---|---|---|---|---|---|---|---|---|---|---|\n"
        )
        for name, counts in rows:
            f.write("| " + name + " | " + " | ".join(map(str, counts)) + " |\n")
        if errors:
            f.write("\n## Not auditable without staging\n\n")
            for name, msg in errors:
                f.write(f"- `{name}` — {msg[:160]}\n")
        n_cart = sum(c[-1] for _, c in rows)
        f.write(
            f"\nTotals: {len(rows)} queries audited, "
            f"{len(errors)} skipped, {n_cart} CartesianProduct nodes.\n"
        )
    print(f"wrote {out}: {len(rows)} audited, {len(errors)} skipped")


if __name__ == "__main__":
    main()
