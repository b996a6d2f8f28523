"""Round-13 contract hardening (r12 ADVICE items): nullability-normalized
schema compatibility on ANN appends, and case-insensitive / value-optional
tracking-parameter stripping in URL canonicalization.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

from agent_data_wrangler_spark.operators import similarity, web


def _vecs(spark, ids, dim=8):
    rows = [
        (i, [float((i * 7 + j * 3) % 11) / 11.0 for j in range(dim)])
        for i in ids
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_append_accepts_nullability_divergent_delta(spark, tmp_path):
    """array<float> with containsNull=false vs the layout's containsNull=true
    is representation noise (parquet vs Arrow provenance), not a type
    divergence — the append must accept it. Before the r13 fix the strict
    DataType equality rejected it with an error whose two simpleString()
    sides read identically."""
    path = str(tmp_path / "ivf")
    similarity.write_ivf_partitioned(_vecs(spark, range(40)), "embedding", path, n_lists=4)
    schema = StructType(
        [
            StructField("vec_id", LongType(), False),
            StructField("embedding", ArrayType(FloatType(), False), False),
        ]
    )
    rows = [
        (i, [float((i * 7 + j * 3) % 11) / 11.0 for j in range(8)])
        for i in range(100, 110)
    ]
    delta = spark.createDataFrame(rows, schema)
    assert similarity.append_ivf_partitioned(delta, "embedding", path) == 10
    rep = similarity.audit_ivf_layout(
        spark,
        path,
        _vecs(spark, range(40)).unionByName(_vecs(spark, range(100, 110))),
        id_col="vec_id",
    )
    assert rep["fresh_ok"] is True and rep["n_indexed"] == 50


def _canon(spark, url):
    return (
        spark.createDataFrame([(url,)], "url string")
        .select(web.canonical_url("url").alias("c"))
        .collect()[0]["c"]
    )


def test_tracking_params_case_insensitive_and_bare(spark):
    """Real crawl URLs vary tracking-param case and sometimes carry bare
    flags with no '=' — both must be stripped (r12 ADVICE)."""
    assert (
        _canon(spark, "https://h.example.com/a?UTM_SOURCE=x&id=1")
        == "https://h.example.com/a?id=1"
    )
    assert (
        _canon(spark, "https://h.example.com/a?gclid&id=1")
        == "https://h.example.com/a?id=1"
    )
    assert (
        _canon(spark, "https://h.example.com/a?FbClId=z&Gclid=g&id=1")
        == "https://h.example.com/a?id=1"
    )
    # a non-tracking param that merely CONTAINS a tracking name must survive
    assert (
        _canon(spark, "https://h.example.com/a?xgclid=1&id=1")
        == "https://h.example.com/a?id=1&xgclid=1"
    )


# ---------------------------------------------------------------------------
# ur1 url provenance — three implementations of the messy-URL formula
# (tools/gen_sf.py:_synth_url baked into scaled dirs, the inline Spark
# Column derivation for the url-less driver testdata, and the DuckDB twin)
# must be byte-identical, or oracle parity would silently depend on which
# input path a run took.
# ---------------------------------------------------------------------------


def _gen_sf_synth_url():
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "gen_sf",
        os.path.join(os.path.dirname(__file__), "..", "tools", "gen_sf.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._synth_url


def test_ur1_url_formula_pinned_across_implementations(spark, sf_dir):
    import duckdb

    from agent_data_wrangler_spark.queryset_nstar import _UR1_RAW_SQL, _ur1_raw_urls
    from agent_data_wrangler_spark.queryset import read_table

    synth = _gen_sf_synth_url()
    d = read_table(spark, sf_dir, "documents").select("doc_id")
    spark_urls = {
        r["doc_id"]: r["url"] for r in _ur1_raw_urls(d).collect()
    }
    con = duckdb.connect()
    import os

    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(sf_dir, 'documents.parquet')}'"
    )
    duck_urls = dict(con.sql(_UR1_RAW_SQL).fetchall())
    assert spark_urls == duck_urls
    assert all(u == synth(i) for i, u in spark_urls.items())


# ---------------------------------------------------------------------------
# mm4 surface — image perceptual hash + generic hamming band pairs
# ---------------------------------------------------------------------------


def _phash_of(spark, payloads):
    from agent_data_wrangler_spark.operators.multimodal import image_phash

    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "id long, payload binary",
    )
    return {r["id"]: r["phash"] for r in image_phash(df).collect()}


def _ppm(pixels):
    import numpy as np

    from agent_data_wrangler_spark.operators.multimodal import encode_ppm

    return encode_ppm(np.asarray(pixels, dtype=np.uint8))


def test_image_phash_known_gradient(spark):
    """A 9x8 image whose gray strictly increases left-to-right sets every
    gradient bit -> phash == 2^63 - 1; flat image -> 0."""
    import numpy as np

    inc = np.zeros((8, 9, 3), dtype=np.uint8)
    for c in range(9):
        inc[:, c, :] = 10 + 20 * c
    flat = np.full((8, 9, 3), 77, dtype=np.uint8)
    hashes = _phash_of(spark, [_ppm(inc), _ppm(flat)])
    assert hashes[0] == (1 << 63) - 1
    assert hashes[1] == 0


def test_image_phash_resize_matches_numpy_reference(spark):
    """Non-native sizes go through the nearest-neighbour resize; pin the
    index math against an independent numpy recomputation."""
    import numpy as np

    rng = [(r * 31 + c * 17) % 251 for r in range(6) for c in range(11)]
    px = np.array(rng, dtype=np.uint8).reshape(6, 11, 1).repeat(3, axis=2)
    got = _phash_of(spark, [_ppm(px)])[0]
    gray = px.astype(np.int64).sum(axis=2) // 3
    ys = (np.arange(8) * 6 // 8).clip(0, 5)
    xs = (np.arange(9) * 11 // 9).clip(0, 10)
    g = gray[np.ix_(ys, xs)]
    bits = (g[:, 1:] > g[:, :-1]).reshape(-1)[:63]
    want = int(sum(int(b) << k for k, b in enumerate(bits)))
    assert got == want


def test_image_phash_low_order_noise_stays_near(spark):
    """+1 on one pixel byte moves at most the gradients touching that cell
    — the property mm4's planted pairs rely on."""
    import numpy as np

    base = np.array(
        [[(r * 13 + c * 29) % 199 for c in range(9)] for r in range(8)],
        dtype=np.uint8,
    )[..., None].repeat(3, axis=2)
    pert = base.copy()
    pert[0, 0, 0] = pert[0, 0, 0] + 1
    h = _phash_of(spark, [_ppm(base), _ppm(pert)])
    dist = bin(h[0] ^ h[1]).count("1")
    assert dist <= 1


def test_hamming_band_pairs_pigeonhole_and_filter(spark):
    from agent_data_wrangler_spark.operators import dedup

    rows = [
        (1, 0b101010),
        (2, 0b101011),          # dist 1 from id 1
        (3, 0b101010 ^ 0b111),  # dist 3 from id 1
        (4, (1 << 60) - 1),     # far from everything
    ]
    df = spark.createDataFrame(rows, "id long, h long")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in dedup.hamming_band_pairs(df, "id", "h", bits=63, bands=4).collect()
    }
    # pigeonhole: every pair with dist < bands MUST be present
    assert got[(1, 2)] == 1 and got[(1, 3)] == 3 and got[(2, 3)] == 2
    filt = dedup.hamming_band_pairs(
        df, "id", "h", bits=63, bands=4, max_dist=1
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in filt} == {(1, 2)}


def test_hamming_band_pairs_scatter_preserves_recall(spark):
    """The scattered variant must still catch every pair with dist < bands
    (a bit permutation preserves hamming distance)."""
    from agent_data_wrangler_spark.operators import dedup

    rows = [(1, 0x5A5A5A5A5A5A5A5), (2, 0x5A5A5A5A5A5A5A5 ^ 0b10000001)]
    df = spark.createDataFrame(rows, "id long, h long")
    for seed in (1234567, 42, 7):
        got = dedup.hamming_band_pairs(
            df, "id", "h", bits=63, bands=4, scatter_seed=seed
        ).collect()
        assert len(got) == 1 and got[0]["dist"] == 2, seed


def test_mm4_planted_recall(spark, sf_dir):
    from agent_data_wrangler_spark.queryset_nstar import QUERIES

    row = QUERIES["mm4_image_neardup_documents"](spark, sf_dir).collect()[0]
    assert row["n_planted"] > 0
    assert row["n_planted_caught"] == row["n_planted"]
    assert row["n_dup_pairs"] >= row["n_planted"]


# ---------------------------------------------------------------------------
# sd1 multi-probe opt-in (the sd2 lever wired into the staged-layout path)
# ---------------------------------------------------------------------------


def test_sd1_multiprobe_dominates_single_probe(spark, sf_dir):
    """probes=2 may only ADD recall (every single-probe pair still shares
    its primary list), and exact-copy plants are caught under both."""
    from agent_data_wrangler_spark.queryset_nstar import _sd1_account

    accounts = {}
    for plant in ("exact", "near"):
        for p in (1, 2):
            accounts[(plant, p)] = _sd1_account(
                spark, sf_dir, probes=p, plant=plant
            ).collect()[0]
    for plant in ("exact", "near"):
        assert (
            accounts[(plant, 2)]["n_removed"] >= accounts[(plant, 1)]["n_removed"]
        )
        assert accounts[(plant, 2)]["n_total"] == accounts[(plant, 1)]["n_total"]
    assert accounts[("exact", 1)]["planted_removed_ok"] is True
    assert accounts[("exact", 2)]["planted_removed_ok"] is True


# ---------------------------------------------------------------------------
# bp3 — iterated BPE merge semantics
# ---------------------------------------------------------------------------


def test_bp3_prefix_marker_merge_is_sound(spark):
    """The prefix-marked merge must (a) merge all non-overlapping adjacent
    occurrences in one pass ('aaaa' -> ['aa','aa']) and (b) never fire when
    the left element is only the SUFFIX of a longer symbol — the case that
    breaks bp2's separator-joined form once symbols grow."""
    from pyspark.sql import functions as F

    us = "\x1f"
    # symbols: ['xa','b'] and ['a','b'] — pair ('a','b') must merge only the
    # second; symbols ['a','a','a','a'] must become ['aa','aa']
    rows = [(us + "xa" + us + "b",), (us + "a" + us + "b",), (us + "a" + us + "a" + us + "a" + us + "a",)]
    df = spark.createDataFrame(rows, "j string")
    pair = "a" + us + "b"
    merged = df.select(
        F.replace(F.col("j"), F.lit(us + pair), F.lit(us + "ab")).alias("j")
    ).collect()
    assert merged[0]["j"] == us + "xa" + us + "b"          # untouched
    assert merged[1]["j"] == us + "ab"                      # merged
    pair2 = "a" + us + "a"
    m2 = df.select(
        F.replace(F.col("j"), F.lit(us + pair2), F.lit(us + "aa")).alias("j")
    ).collect()
    assert m2[2]["j"] == us + "aa" + us + "aa"              # both pairs, one pass


def test_bp3_top_pair_plan_shape(spark, sf_dir):
    """The fit step's working plan: partial-aggregated explode feeding
    TakeOrderedAndProject — no global sort, no cartesian."""
    from agent_data_wrangler_spark.queryset_nstar import _bp3_dict, _bp3_top_pair

    top = _bp3_top_pair(_bp3_dict(spark, sf_dir))
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan
    assert top.collect()[0]["pair"].count("\x1f") == 1


def test_bp3_merges_monotone_and_multichar(spark, sf_dir):
    """Eight merges: symbol counts strictly decrease; the merge table is
    the vocabulary artifact (later steps may merge multi-char symbols)."""
    from agent_data_wrangler_spark.queryset_nstar import QUERIES

    rows = sorted(
        QUERIES["bp3_bpe_train_documents"](spark, sf_dir).collect(),
        key=lambda r: r["step"],
    )
    assert [r["step"] for r in rows] == list(range(1, 9))
    counts = [r["n_symbols_after"] for r in rows]
    assert all(a > b for a, b in zip(counts, counts[1:]))


def test_bp3_driver_fit_matches_distributed(spark, sf_dir):
    """The r13-opt bounded-collect fit path and the distributed loop
    produce the identical merge table (driver_fit_limit=0 forces the
    distributed path — the connected_components fallback pattern)."""
    from agent_data_wrangler_spark.queryset_nstar import _bp3_train

    fast = sorted(map(tuple, _bp3_train(spark, sf_dir).collect()))
    dist = sorted(map(tuple, _bp3_train(spark, sf_dir, driver_fit_limit=0).collect()))
    assert fast == dist
    assert len(fast) == 8


def test_gen_sf_emits_url_column_matching_formula(tmp_path):
    import subprocess
    import sys

    import duckdb

    out = tmp_path / "sfmini"
    subprocess.run(
        [
            sys.executable,
            "tools/gen_sf.py",
            "--src",
            "/root/testdata/sf0.001",
            "--out",
            str(out),
            "--mult",
            "2",
            "--tables",
            "documents",
        ],
        check=True,
        cwd="/root/repo",
    )
    synth = _gen_sf_synth_url()
    rows = duckdb.sql(
        f"SELECT doc_id, url FROM '{out}/documents.parquet'"
    ).fetchall()
    assert len(rows) == 1000  # 500 docs x mult 2
    assert all(u == synth(d) for d, u in rows)


# ---------------------------------------------------------------------------
# mm5 surface — acoustic fingerprint (audio twin of image_phash)
# ---------------------------------------------------------------------------


def _afp_of(spark, payloads, windows=64):
    from agent_data_wrangler_spark.operators.multimodal import audio_fingerprint

    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "id long, payload binary",
    )
    return {
        r["id"]: r["afp"]
        for r in audio_fingerprint(df, windows=windows).collect()
    }


def _pcm(samples):
    import numpy as np

    return np.asarray(samples, dtype="<i2").tobytes()


def test_audio_fingerprint_known_gradient(spark):
    """Strictly increasing window energies set every bit -> 2^63 - 1;
    a constant waveform (flat energies, ties are False) -> 0."""
    inc = [k + 1 for k in range(64) for _ in range(2)]
    flat = [100] * 128
    fps = _afp_of(spark, [_pcm(inc), _pcm(flat)])
    assert fps[0] == (1 << 63) - 1
    assert fps[1] == 0


def test_audio_fingerprint_matches_numpy_reference(spark):
    """Pin the window/energy/bit math against an independent numpy
    recomputation, including a tail remainder that must be dropped."""
    import numpy as np

    samples = [((i * 37 + 11) % 1999) - 950 for i in range(130)]  # 2 tail
    got = _afp_of(spark, [_pcm(samples)])[0]
    s = np.asarray(samples[:128], dtype=np.int64)
    e = (s**2).reshape(64, 2).sum(axis=1)
    bits = (e[1:] > e[:-1])[:63]
    want = int(sum(int(b) << k for k, b in enumerate(bits)))
    assert got == want


def test_audio_fingerprint_gain_invariant_and_local(spark):
    """Uniform gain preserves every bit (energies scale together); a +1 on
    sample 0 moves only window 0's energy -> at most bit 0 flips — the
    property mm5's planted pairs rely on."""
    base = [((i * 53 + 7) % 401) - 200 for i in range(128)]
    gain = [s * 3 for s in base]
    pert = [base[0] + 1] + base[1:]
    fps = _afp_of(spark, [_pcm(base), _pcm(gain), _pcm(pert)])
    assert fps[0] == fps[1]
    assert bin(fps[0] ^ fps[2]).count("1") <= 1


def test_audio_fingerprint_short_clip_zero(spark):
    """Fewer samples than windows -> no full window -> fingerprint 0."""
    fps = _afp_of(spark, [_pcm([5] * 10)])
    assert fps[0] == 0


def test_mm5_planted_recall(spark, sf_dir):
    from agent_data_wrangler_spark.queryset_nstar import QUERIES

    row = QUERIES["mm5_audio_neardup_documents"](spark, sf_dir).collect()[0]
    assert row["n_planted"] > 0
    assert row["n_planted_caught"] == row["n_planted"]
    assert row["n_dup_pairs"] >= row["n_planted"]


# ---------------------------------------------------------------------------
# bp4 — fixed-merge-table BPE encode
# ---------------------------------------------------------------------------


def test_bp4_multichar_merges_apply_in_order(spark):
    """'the' collapses to ONE symbol via two dependent merges (t+h -> th,
    then th+e -> the) — including mid-word ('xthe' -> x|the); a symbol
    that merely ENDS in 't' must not trigger the t+h merge (the
    suffix-hazard the prefix-marked form exists for)."""
    from pyspark.sql import functions as F

    from agent_data_wrangler_spark.queryset_nstar import _BP4_MERGES

    us = "\x1f"
    words = [  # each entry: pre-split symbol tuple
        ("t", "h", "e"),
        ("x", "t", "h", "e"),
        ("t", "h", "i", "n", "g"),
        ("a", "n", "d"),
        ("at", "h"),  # 'at' ends in 't' — t+h must NOT fire inside it
    ]
    df = spark.createDataFrame(
        [(i, "".join(us + s for s in w)) for i, w in enumerate(words)],
        "i long, j string",
    )
    col = F.col("j")
    for a, b in _BP4_MERGES:
        col = F.replace(col, F.lit(us + a + us + b), F.lit(us + a + b))
    out = {r["i"]: r["j"] for r in df.select("i", col.alias("j")).collect()}
    split = [tuple(x for x in out[i].split(us) if x) for i in range(len(words))]
    assert split[0] == ("the",)
    assert split[1] == ("x", "the")
    assert split[2] == ("th", "ing")
    assert split[3] == ("and",)
    assert split[4] == ("at", "h")


def test_bp4_totals_consistent(spark, sf_dir):
    """Every output row carries the same corpus total, and the top-10 slice
    is ordered/bounded."""
    from agent_data_wrangler_spark.queryset_nstar import QUERIES

    rows = QUERIES["bp4_bpe_encode_documents"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    totals = {r["total_symbols"] for r in rows}
    assert len(totals) == 1
    assert sum(r["cnt"] for r in rows) <= totals.pop()


# ---------------------------------------------------------------------------
# fw1 — end-to-end web-pipeline funnel
# ---------------------------------------------------------------------------


def test_fw1_funnel_monotone_and_chained(spark, sf_dir):
    """Stage k's docs_in equals stage k-1's docs_out, every stage shrinks
    or preserves, and the kept-id checksum shrinks with the kept set."""
    from agent_data_wrangler_spark.queryset_nstar import QUERIES

    rows = sorted(
        QUERIES["fw1_web_pipeline_funnel_documents"](spark, sf_dir).collect(),
        key=lambda r: r["stage"],
    )
    assert [r["stage_name"] for r in rows] == [
        "url_canonical_dedup", "domain_cap", "quality_filter", "exact_text_dedup",
    ]
    for prev, cur in zip(rows, rows[1:]):
        assert cur["docs_in"] == prev["docs_out"]
    for r in rows:
        assert 0 < r["docs_out"] <= r["docs_in"]
    # stage 1 must actually dedup on this corpus (12 variants per resource)
    assert rows[0]["docs_out"] < rows[0]["docs_in"]


def test_gq1_rollup_is_partition_layout_invariant(spark, sf_dir):
    """gq1's per-source means come out bit-identical whatever partitioning
    the per-doc rows arrive in (widen_scan derives it from the core count)."""
    from agent_data_wrangler_spark.functions.text import (
        dup_ngram_fraction,
        mean_token_len,
        top_token_fraction,
    )
    from agent_data_wrangler_spark.queryset_nstar import _gq1_rollup
    from agent_data_wrangler_spark.sources.readers import read_table

    per_doc = read_table(spark, str(sf_dir), "documents").select(
        "source",
        dup_ngram_fraction("text", n=2).alias("dup2"),
        top_token_fraction("text").alias("top1"),
        mean_token_len("text").alias("mlen"),
        F.length("text").alias("bpe"),
    ).cache()
    try:
        one, seven = (
            sorted(_gq1_rollup(per_doc.repartition(n)).collect())
            for n in (1, 7))
        assert one and one == seven
    finally:
        per_doc.unpersist()
