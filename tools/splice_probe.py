"""Splice per-family probe captures into the committed
history/BENCH_probe_*.json artifacts as FAMILY UNITS (the r13 protocol: a
family's ratio legs must be temporally adjacent — captured back-to-back in
one run — so whole families are replaced together; per-leg minima are never
mixed across runs).

Usage:
    python tools/splice_probe.py history/BENCH_probe_sf10.json lk1_sf10.json ...

Each donor file is a probe_families.py payload; every query it contains
replaces the same key in the target artifact, and the target's total
("value") is recomputed as the sum of its per-query entries.
"""

from __future__ import annotations

import json
import sys


def splice(target_path: str, donor_paths: list[str]) -> None:
    with open(target_path, encoding="utf-8") as fh:
        target = json.load(fh)
    for dp in donor_paths:
        with open(dp, encoding="utf-8") as fh:
            donor = json.load(fh)
        if donor.get("sf") != target.get("sf"):
            raise SystemExit(
                f"sf mismatch: {dp} has {donor.get('sf')!r}, "
                f"{target_path} has {target.get('sf')!r}"
            )
        for name, sec in donor["queries"].items():
            target["queries"][name] = sec
    target["value"] = round(sum(target["queries"].values()), 3)
    with open(target_path, "w", encoding="utf-8") as fh:
        fh.write(json.dumps(target) + "\n")
    print(f"spliced {len(donor_paths)} donor(s) into {target_path} "
          f"(total {target['value']})")


if __name__ == "__main__":
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    splice(sys.argv[1], sys.argv[2:])
