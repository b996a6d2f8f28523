"""Decade-over-decade scaling report from COMMITTED bench artifacts.

Verdict r08 item 3: round notes quoted scaling ratios that drifted from the
committed JSON pair (the sf0.1 record was re-captured mid-round, shifting
denominators). This tool makes drift impossible: the ratio table is EMITTED
from the artifacts, never hand-typed — prose quotes the generated file or
nothing.

Usage:
    python tools/scaling_report.py \
        --pair sf0.1=history/BENCH_local_r08.json \
        --pair sf1=history/BENCH_sf1.json \
        [--pair sf10=history/BENCH_sf10.json] [--out SCALING.md]

Each --pair is label=path (ordered smallest SF first). For every query
present in consecutive pairs the report prints t_small, t_big and the ratio;
a per-decade data multiplier (from the SF labels when numeric) gives the
linearity verdict: ratio <= mult is at-most-linear, ratio > 1.5*mult is
flagged SUPERLINEAR — the threshold the round-8 verdict set for "needs a
named fix plan".

All timings are the bench protocol's per-query min-of-2; queries missing
from either artifact (targeted subset probes) are simply absent from that
decade's section.
"""

from __future__ import annotations

import argparse
import json
import os


def _load(path: str) -> dict[str, float]:
    with open(path, encoding="utf-8") as fh:
        payload = json.load(fh)
    return {k: v for k, v in payload["queries"].items() if v > 0}


def _sf_value(label: str) -> float | None:
    # "sf1-skew" (a variant capture at the same volume) still means 1.0 —
    # anything after the first '-' is a variant tag, not part of the SF.
    raw = label.removeprefix("sf").split("-")[0]
    try:
        return float(raw)
    except ValueError:
        return None


def build_report(pairs: list[tuple[str, str]],
                 footnotes: list[str] | None = None) -> str:
    lines = ["# Scaling report (generated — do not hand-edit)", ""]
    lines.append("Source artifacts: " + ", ".join(
        f"{lbl}={os.path.basename(p)}" for lbl, p in pairs))
    lines.append("")
    for (lbl_a, path_a), (lbl_b, path_b) in zip(pairs, pairs[1:]):
        qa, qb = _load(path_a), _load(path_b)
        common = sorted(set(qa) & set(qb))
        sa, sb = _sf_value(lbl_a), _sf_value(lbl_b)
        mult = (sb / sa) if sa and sb else None
        head = f"## {lbl_a} -> {lbl_b}"
        if mult is not None:
            head += f" ({mult:g}x data; ratio > {1.5 * mult:g} flagged)"
        lines += [head, ""]
        lines.append(f"| query | {lbl_a} s | {lbl_b} s | ratio | verdict |")
        lines.append("|---|---|---|---|---|")
        flagged = []
        for q in sorted(common, key=lambda q: -(qb[q] / qa[q])):
            ratio = qb[q] / qa[q]
            if mult is None:
                verdict = ""
            elif ratio > 1.5 * mult:
                verdict = "SUPERLINEAR"
                flagged.append(q)
            elif ratio <= mult:
                verdict = "at-most-linear"
            else:
                verdict = "near-linear"
            lines.append(
                f"| {q} | {qa[q]:.2f} | {qb[q]:.2f} | {ratio:.1f}x |"
                f" {verdict} |")
        lines.append("")
        if mult is not None:
            lines.append(
                f"Flagged (> {1.5 * mult:g}x at {mult:g}x data): "
                + (", ".join(flagged) if flagged else "none"))
            lines.append("")
    if footnotes:
        lines.append("## Notes")
        lines.append("")
        lines += [f"- {note}" for note in footnotes]
        lines.append("")
    return "\n".join(lines) + "\n"


#: The committed, test-pinned report set: `--regen` rewrites every entry and
#: tests/test_scale_tools.py asserts each repo file byte-matches its
#: regeneration — specs and footnotes live HERE and only here, so the report,
#: the test, and the regeneration command can never drift apart (the r11
#: failure mode: a re-captured artifact left a sibling report and the test's
#: private pair list stale).
COMMITTED_REPORTS: dict[str, tuple[list[tuple[str, str]], list[str] | None]] = {
    # The headline decade series: the 15 probe families at sf0.1/1/10
    # under the isolated per-family protocol, plus the sf30
    # third-decade spot check of the two heaviest (lk1, n5 — r10 verdict
    # item 8; the builder emits only families present in BOTH legs).
    "SCALING.md": (
        [("sf0.1", "history/BENCH_probe_sf0.1.json"),
         ("sf1", "history/BENCH_probe_sf1.json"),
         ("sf10", "history/BENCH_probe_sf10.json"),
         ("sf30", "history/BENCH_probe_sf30.json")],
        [
            "Protocol (r11, verdict item 1): every family runs "
            "in its OWN fresh JVM via tools/probe_families.py (sf0.001 "
            "warmup, min-of-2, no concurrent load), retiring the "
            "sweep-position noise of the r08-r10 in-sweep captures (the "
            "measured noise magnitude is round-stamped in NOTES_r10 "
            "SS8b/NOTES_r11 SS5). All "
            "four decade artifacts were recaptured in r12 on one code "
            "version (the r12 HEAD that adds sd1 to the 14-family r11 set "
            "and re-sizes sd1's dedup clustering — NOTES_r12 SS3/SS8) and "
            "one data version (.scratch scale dirs generated from the r11 "
            "driver sf0.1 by the seeded generator; byte-identical under "
            "the deterministic generator).",
            "Pre-r11 artifacts BENCH_sf1.json / BENCH_sf10.json (in-sweep "
            "protocol, r10-era scale data) are retained for history but "
            "superseded by BENCH_probe_sf{1,10}.json; do not mix protocols "
            "in one ratio.",
            "gr1 (r10's ambiguous family): the isolated sf1->sf10 ratio "
            "(this file's table) sits inside the plan's expected envelope — "
            "the r10-committed in-sweep ratio was position noise, as "
            "NOTES_r10 SS8b suspected.",
            "The sf30 leg (r10 verdict item 8) is a documents-only "
            "generation (gen_sf.py --tables documents --mult 300) probing "
            "the two heaviest document families one decade-third further, "
            "so 'at-most-linear' no longer rests on a single sf1->sf10 "
            "ratio for them.",
            "The skewed-alphabet bl1 probe lives in SCALING_skew.md — "
            "recaptured in r12 with this file's artifacts, so its ratio "
            "is one code/data/protocol epoch with them.",
        ],
    ),
    # The skewed-alphabet bl1 probe (r09 verdict item 7): same 10x volume,
    # Zipf-prior ciphers (gen_sf.py --skewed-alphabet).
    "SCALING_skew.md": (
        [("sf0.1", "history/BENCH_probe_sf0.1.json"),
         ("sf1-skew", "history/BENCH_probe_sf1skew.json")],
        [
            "Skew-mode generator probe (gen_sf.py --skewed-alphabet, "
            "Zipf-prior ciphers): cross-replica hot-token collisions are "
            "the stress mode for blocking-keyed operators; the measured "
            "block-structure deltas are round-stamped in NOTES_r10 §5, and "
            "dedup.blocked_editdist_pairs(max_block_size=...) remains the "
            "guarded path for boilerplate-heavy corpora. Recaptured in r12 "
            "(isolated protocol, r12 HEAD) so the ratio shares one epoch "
            "with SCALING.md.",
        ],
    ),
    # The legacy full-registry pair (r08 code/generator, 210 queries).
    "SCALING_full_registry_sf1.md": (
        [("sf0.1", "history/BENCH_local_r08.json"),
         ("sf1", "history/BENCH_sf1.json")],
        None,
    ),
}


def regen_committed(repo: str) -> list[str]:
    """Rewrite every committed report from its pinned spec; returns the
    file names written."""
    written = []
    for out_name, (pair_specs, footnotes) in COMMITTED_REPORTS.items():
        pairs = [(lbl, os.path.join(repo, rel)) for lbl, rel in pair_specs]
        report = build_report(pairs, footnotes=footnotes)
        with open(os.path.join(repo, out_name), "w", encoding="utf-8") as fh:
            fh.write(report)
        written.append(out_name)
    return written


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--regen", action="store_true",
        help="regenerate every COMMITTED_REPORTS entry in the repo root "
        "and exit (ignores --pair/--out/--footnote)")
    ap.add_argument(
        "--pair", action="append", default=None,
        help="label=path, smallest SF first (repeatable)")
    ap.add_argument("--out", default=None, help="write here instead of stdout")
    ap.add_argument(
        "--footnote", action="append", default=None,
        help="verbatim bullet appended under a '## Notes' section "
        "(repeatable); use for pointers to sibling generated reports, "
        "never for numbers (numbers belong in generated rows)")
    args = ap.parse_args()
    if args.regen:
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        for name in regen_committed(repo):
            print(f"wrote {name}")
        return
    if not args.pair:
        raise SystemExit("--pair is required unless --regen is given")
    pairs = []
    for spec in args.pair:
        lbl, _, path = spec.partition("=")
        if not path:
            raise SystemExit(f"--pair wants label=path, got {spec!r}")
        pairs.append((lbl, path))
    report = build_report(pairs, footnotes=args.footnote)
    if args.out:
        with open(args.out, "w", encoding="utf-8") as fh:
            fh.write(report)
        print(f"wrote {args.out}")
    else:
        print(report, end="")


if __name__ == "__main__":
    main()
