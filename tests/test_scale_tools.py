"""Unit tests for the scale-probe toolchain (tools/gen_sf.py cipher,
tools/scaling_report.py ratio table, tools/stage_profile.py stage wall time)
— pure-Python, no Spark session.

The sf10 probe's validity rests on two generator properties (r08 verdict
item 2): replica vocabularies must be pairwise disjoint (or pairwise
operators scale super-linearly as a generator artifact) while per-replica
text statistics stay identical (or stats-driven operators measure a
different corpus). The report tool is what keeps round-note scaling
claims pinned to committed artifacts (item 3)."""

from __future__ import annotations

import importlib.util
import json
import os
import string
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(mod_name: str, rel_path: str):
    spec = importlib.util.spec_from_file_location(
        mod_name, os.path.join(REPO, rel_path))
    mod = importlib.util.module_from_spec(spec)
    sys.modules[mod_name] = mod
    spec.loader.exec_module(mod)
    return mod


gen_sf = _load("adw_gen_sf", "tools/gen_sf.py")
scaling_report = _load("adw_scaling_report", "tools/scaling_report.py")
stage_profile = _load("adw_stage_profile", "tools/stage_profile.py")


def test_cipher_identity_at_replica_zero():
    assert "The quick Brown fox".translate(gen_sf._cipher_table(0)) == (
        "The quick Brown fox")


def test_cipher_tables_pairwise_distinct_to_100():
    tables = [gen_sf._cipher_table(i) for i in range(100)]
    assert len({tuple(sorted(t.items())) for t in tables}) == 100


def test_cipher_is_letter_bijection_preserving_case_class():
    for i in (1, 7, 42, 99):
        t = gen_sf._cipher_table(i)
        lo = string.ascii_lowercase.translate(t)
        up = string.ascii_uppercase.translate(t)
        assert sorted(lo) == list(string.ascii_lowercase)
        assert sorted(up) == list(string.ascii_uppercase)
        # digits / punctuation / whitespace pass through untouched
        assert "0129 ,.!-\n\t".translate(t) == "0129 ,.!-\n\t"


def test_cipher_commutes_with_case_folding():
    """lower(cipher(t)) == cipher(lower(t)): case-normalized shingle
    structure within a replica is preserved exactly (the property a Caesar
    rotation had and an independent upper-case permutation would break)."""
    text = "The Quick BROWN fox Jumps over the LAZY dog"
    for i in (1, 13, 61):
        t = gen_sf._cipher_table(i)
        assert text.translate(t).lower() == text.lower().translate(t)


def test_cipher_replicas_share_no_multiletter_tokens():
    """Disjoint-vocabulary property: the same source token maps to
    different strings in different replicas (for every pair tried), so
    cross-replica Jaccard/MinHash similarity is ~0 by construction."""
    tokens = ["quick", "brown", "jumps", "lazy", "dog"]
    seen: dict[str, set[str]] = {tok: set() for tok in tokens}
    for i in range(1, 50):
        t = gen_sf._cipher_table(i)
        for tok in tokens:
            seen[tok].add(tok.translate(t))
    for tok, images in seen.items():
        assert len(images) == 49, f"token {tok!r} collided across replicas"


def test_skewed_cipher_properties():
    """r09 verdict item 7: the skewed-alphabet mode must (a) stay a
    case-class-preserving, case-folding-commuting letter bijection,
    (b) remain pairwise-distinct across replicas (no byte-identical
    replica texts), and (c) actually SKEW — frequent source letters
    concentrate on frequent targets so hot tokens collide across some
    replica pairs, the heavy-tailed cross-replica block behavior the
    uniform cipher structurally flattens (and the reason the mode
    exists: bl1's max_block_size guard needs a non-flattering probe)."""
    tables = [gen_sf._cipher_table(i, skewed=True) for i in range(1, 33)]
    assert len({tuple(sorted(t.items())) for t in tables}) == 32
    text = "The Quick BROWN fox"
    for t in tables[:5]:
        lo = string.ascii_lowercase.translate(t)
        assert sorted(lo) == list(string.ascii_lowercase)
        assert text.translate(t).lower() == text.lower().translate(t)
        assert "0129 ,.!-\n\t".translate(t) == "0129 ,.!-\n\t"
    # Identity at replica 0, same as the uniform mode.
    assert text.translate(gen_sf._cipher_table(0, skewed=True)) == text
    # Skew witness 1: 'e' lands in the top-3 frequency ranks in a large
    # majority of replicas (uniform would put it there ~12% of the time).
    rank = {c: r for r, c in enumerate(gen_sf._FREQ_ORDER)}
    e_ranks = [rank["e".translate(t)] for t in tables]
    assert sum(1 for r in e_ranks if r < 3) >= 20, e_ranks
    # Skew witness 2: at least one hot token collides byte-for-byte
    # across a replica pair (deterministic given the seeded draws).
    images = ["the".translate(t) for t in tables]
    assert len(set(images)) < len(images), images


def test_scaling_report_ratios_and_flags(tmp_path):
    small = tmp_path / "small.json"
    big = tmp_path / "big.json"
    small.write_text(json.dumps({"queries": {
        "lin": 1.0, "sup": 1.0, "gone": -1.0, "only_small": 2.0}}))
    big.write_text(json.dumps({"queries": {
        "lin": 9.0, "sup": 20.0, "only_big": 3.0}}))
    report = scaling_report.build_report(
        [("sf1", str(small)), ("sf10", str(big))])
    assert "| lin | 1.00 | 9.00 | 9.0x | at-most-linear |" in report
    assert "| sup | 1.00 | 20.00 | 20.0x | SUPERLINEAR |" in report
    assert "Flagged (> 15x at 10x data): sup" in report
    # failed (-1) and one-sided queries never produce ratio rows
    assert "gone" not in report and "only_small" not in report
    assert "only_big" not in report


import pytest


@pytest.mark.parametrize(
    "out_name", sorted(scaling_report.COMMITTED_REPORTS)
)
def test_scaling_report_matches_committed_artifacts(out_name):
    """The SCALING files are generated — regenerating from the committed
    artifact pairs must reproduce them byte-for-byte (the no-prose-drift
    guarantee, r08 verdict item 3). Specs and footnotes live ONLY in
    scaling_report.COMMITTED_REPORTS (r11: a duplicated pair list in this
    test went stale against a re-captured artifact); regenerate with
    `python tools/scaling_report.py --regen`."""
    path = os.path.join(REPO, out_name)
    if not os.path.exists(path):
        pytest.skip(f"no committed {out_name}")
    with open(path, encoding="utf-8") as fh:
        committed = fh.read()
    pair_specs, footnotes = scaling_report.COMMITTED_REPORTS[out_name]
    pairs = [(lbl, os.path.join(REPO, rel)) for lbl, rel in pair_specs]
    assert scaling_report.build_report(pairs, footnotes=footnotes) \
        == committed


def test_stage_wall_time_is_utc_across_dst(monkeypatch):
    """REST stamps are UTC: a stage spanning the local spring-forward hour
    lasts 3600.2 s, not the 0.2 s a local-time parse gives."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        wall = stage_profile._stage_wall_s({
            "firstTaskLaunchedTime": "2026-03-08T01:59:59.900GMT",
            "completionTime": "2026-03-08T03:00:00.100GMT",
        })
    finally:
        monkeypatch.undo()
        time.tzset()
    assert abs(wall - 3600.2) < 1e-6
    assert stage_profile._stage_wall_s({"completionTime": None}) == 0.0
