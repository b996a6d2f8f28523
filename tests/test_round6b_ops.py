"""Units for the round-6 second-wave queries (bp1/gr1/cl1/sub6): planted
fixtures with hand-computable expectations, staged as parquet so the
registered queries run end-to-end through read_table."""

from __future__ import annotations

import os

from __spark_entry__ import queries

QUERIES = queries()


def _stage(spark, tmp_path, name, df):
    path = os.path.join(str(tmp_path), f"{name}.parquet")
    df.coalesce(1).write.parquet(path)
    return str(tmp_path)


def test_bp1_single_char_tokens_emit_no_pairs(spark, tmp_path):
    """sequence(1, 0) is DESCENDING in Spark — a single-char token must
    contribute zero pairs, not a phantom descending-range artifact; case
    folds before pairing."""
    docs = spark.createDataFrame(
        [(1, "a BC de", "en", "s1", 7), (2, "x", "en", "s1", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf_dir = _stage(spark, tmp_path, "documents", docs)
    rows = {
        r["pair"]: r["cnt"]
        for r in QUERIES["bp1_bpe_pair_counts_documents"](spark, sf_dir).collect()
    }
    assert rows == {"bc": 1, "de": 1}


def test_gr1_matches_hand_rolled_power_iteration(spark, tmp_path):
    """One customer trading with two suppliers: 3 damped power iterations
    computed by hand must match the engine to the rounded digit."""
    orders = spark.createDataFrame(
        [(1, 7)], "o_orderkey long, o_custkey long"
    )
    lineitem = spark.createDataFrame(
        [(1, 100), (1, 200)], "l_orderkey long, l_suppkey long"
    )
    _stage(spark, tmp_path, "orders", orders)
    sf_dir = _stage(spark, tmp_path, "lineitem", lineitem)

    n = 3.0
    r_c = r_s = 1.0 / n
    for _ in range(3):
        r_c, r_s = (
            0.15 / n + 0.85 * (r_s + r_s),
            0.15 / n + 0.85 * (r_c / 2.0),
        )
    expected = round(r_s * n, 6)

    rows = {
        r["node"]: r["rank_scaled"]
        for r in QUERIES["gr1_pagerank_trade_graph"](spark, sf_dir).collect()
    }
    assert rows == {"s100": expected, "s200": expected}


def test_sub6_keeps_exact_integer_ties(spark, tmp_path):
    """Two suppliers with bit-identical integer revenue must BOTH be
    returned (Q15 keeps ties); a lower-revenue supplier must not."""
    li_rows = [
        # suppkey, price, discount, shipdate inside the 1996-Q1 window
        (1, 100, 100.00, 0.05, "1996-02-01"),
        (2, 200, 100.00, 0.05, "1996-02-02"),
        (3, 300, 50.00, 0.05, "1996-02-03"),
    ]
    lineitem = spark.createDataFrame(
        [(k, s, p, d, t) for k, s, p, d, t in li_rows],
        "l_orderkey long, l_suppkey long, l_extendedprice double,"
        " l_discount double, l_shipdate string",
    ).selectExpr(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
        "cast(l_shipdate as timestamp) as l_shipdate",
    )
    supplier = spark.createDataFrame(
        [(100, "alpha"), (200, "beta"), (300, "gamma")],
        "s_suppkey long, s_name string",
    )
    _stage(spark, tmp_path, "lineitem", lineitem)
    sf_dir = _stage(spark, tmp_path, "supplier", supplier)
    rows = sorted(
        (r["s_suppkey"], r["total_revenue"])
        for r in QUERIES["sub6_top_revenue_suppliers"](spark, sf_dir).collect()
    )
    assert rows == [(100, 95.0), (200, 95.0)]


def test_cl1_orthogonal_and_diagonal_centroids(spark, tmp_path):
    """Hand-made centroids: label 0 -> [1,0], label 1 -> [0,1],
    label 2 -> [1,1]/norm. cos(0,1)=0, cos(0,2)=cos(1,2)=1/sqrt(2)."""
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [1.0, 0.0], 0),
            (3, [0.0, 1.0], 1),
            (4, [1.0, 1.0], 2),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    sf_dir = _stage(spark, tmp_path, "embeddings", emb)
    rows = {
        (r["label_a"], r["label_b"]): r["centroid_cos"]
        for r in QUERIES["cl1_label_centroid_confusion"](spark, sf_dir).collect()
    }
    inv_sqrt2 = round(1.0 / 2.0 ** 0.5, 6)
    assert rows == {(0, 1): 0.0, (0, 2): inv_sqrt2, (1, 2): inv_sqrt2}


def test_nano_detector_flags_int64_nanos_not_int96(spark, tmp_path):
    """read_parquet's nanos shim must fire for INT64 TIMESTAMP(NANOS) files
    (pre-r4 driver testdata) and must NOT fire for legacy INT96 (Spark's
    default outputTimestampType), which pyarrow also reports as
    timestamp[ns] but Spark reads natively — the round-6 regression."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from agent_data_wrangler_spark.sources.readers import (
        _nano_ts_columns,
        read_parquet,
    )

    t0 = datetime.datetime(2001, 2, 3, 4, 5, 6, 789000)
    nanos_path = os.path.join(str(tmp_path), "nanos.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([t0], type=pa.timestamp("ns"))}),
        nanos_path,
        store_schema=False,  # TIMESTAMP(NANOS) in the parquet footer
    )
    assert _nano_ts_columns(nanos_path) == ["ts"]
    got = read_parquet(spark, nanos_path).collect()[0]["ts"]
    assert got == t0  # converted nanos -> micro timestamp, value intact

    int96_dir = os.path.join(str(tmp_path), "int96")
    df = spark.createDataFrame([(t0,)], "ts timestamp")
    (
        df.coalesce(1)
        .write.option("spark.sql.parquet.outputTimestampType", "INT96")
        .parquet(int96_dir)
    )
    # whatever the writer emitted, the reader must round-trip the value
    assert read_parquet(spark, int96_dir).collect()[0]["ts"] == t0


def test_ewma_matches_pandas_below_lookback(spark):
    """For series shorter than the lookback the bounded EWMA IS pandas
    ewm(adjust=True): cross-check the fold against pandas exactly."""
    import pandas as pd

    from agent_data_wrangler_spark.operators.windows import ewma

    vals = [3.0, -1.5, 7.25, 0.0, 2.5]
    df = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)], "k int, i int, v double"
    )
    out = (
        ewma(df, ["k"], ["i"], "v", alpha=0.3, lookback=10)
        .orderBy("i")
        .collect()
    )
    expected = pd.Series(vals).ewm(alpha=0.3, adjust=True).mean()
    for row, exp in zip(out, expected):
        assert abs(row["ewma"] - exp) < 1e-9


def test_ewma_truncates_at_lookback(spark):
    """Beyond the lookback the oldest observations drop out entirely: with
    lookback=2 the smoothed value is a function of the last two points
    only."""
    from agent_data_wrangler_spark.operators.windows import ewma

    df = spark.createDataFrame(
        [(1, 0, 1000.0), (1, 1, 10.0), (1, 2, 20.0)],
        "k int, i int, v double",
    )
    last = (
        ewma(df, ["k"], ["i"], "v", alpha=0.5, lookback=2)
        .orderBy("i")
        .collect()[-1]["ewma"]
    )
    # weights: 0.5^1 for v=10, 0.5^0 for v=20 -> (5 + 20) / 1.5
    assert abs(last - (5.0 + 20.0) / 1.5) < 1e-12


def test_gr1_empty_graph_raises(spark, tmp_path):
    """PageRank over an empty edge set must fail loudly, not divide by
    zero (advisor-class degenerate-input guard)."""
    import pytest as _pytest

    orders = spark.createDataFrame([], "o_orderkey long, o_custkey long")
    lineitem = spark.createDataFrame([], "l_orderkey long, l_suppkey long")
    _stage(spark, tmp_path, "orders", orders)
    sf_dir = _stage(spark, tmp_path, "lineitem", lineitem)
    with _pytest.raises(ValueError, match="no edges"):
        QUERIES["gr1_pagerank_trade_graph"](spark, sf_dir)


def test_jsonl_manifest_commit_protocol(spark, tmp_path):
    """The sink's manifest is the commit boundary: stray part files are
    invisible to reads, append merges manifests, overwrite atomically
    replaces AND reclaims unreachable files."""
    from agent_data_wrangler_spark.sources.python_datasource import (
        register_jsonl_manifest,
    )

    register_jsonl_manifest(spark)
    d = os.path.join(str(tmp_path), "sink")
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None), (3, "c", 2.25)],
        "id long, s string, v double",
    ).repartition(2)
    df.write.format("jsonl_manifest").option("path", d).mode("overwrite").save()

    # plant an uncommitted task attempt's garbage
    with open(os.path.join(d, "part-9999-stray.jsonl"), "w") as f:
        f.write('{"id": 99, "s": "zz", "v": 9.9}\n')
    back = spark.read.format("jsonl_manifest").option("path", d).load()
    assert sorted(tuple(r) for r in back.collect()) == [
        (1, "a", 1.5), (2, "b", None), (3, "c", 2.25),
    ]

    spark.createDataFrame([(4, "d", 4.0)], "id long, s string, v double") \
        .write.format("jsonl_manifest").option("path", d).mode("append").save()
    assert spark.read.format("jsonl_manifest").option("path", d).load().count() == 4

    spark.createDataFrame([(7, "x", 0.5)], "id long, s string, v double") \
        .write.format("jsonl_manifest").option("path", d).mode("overwrite").save()
    assert [tuple(r) for r in
            spark.read.format("jsonl_manifest").option("path", d).load().collect()
            ] == [(7, "x", 0.5)]
    # overwrite reclaimed every unreachable part file (incl. the stray)
    import json as _json

    with open(os.path.join(d, "_MANIFEST.json")) as f:
        committed = {e["name"] for e in _json.load(f)["files"]}
    on_disk = {n for n in os.listdir(d) if n.startswith("part-")}
    assert on_disk == committed


def test_csv_quarantine_distinguishes_empty_from_broken(spark, tmp_path):
    """An EMPTY value field is a good row with a null (T13 semantics); an
    unparseable one quarantines the whole raw line with the original text
    preserved for repair."""
    from agent_data_wrangler_spark.sources.readers import read_csv_quarantine

    p = os.path.join(str(tmp_path), "dirty.csv")
    with open(p, "w") as f:
        f.write("1,click,2.5\n")
        f.write("2,view,\n")        # empty value -> good row, null value
        f.write("3,click,###\n")    # unparseable -> quarantine
        f.write("not-a-number,view,1.0\n")  # broken key -> quarantine
    df = read_csv_quarantine(
        spark, p, "event_id bigint, event_type string, value double"
    )
    good = df.filter(df["_corrupt_record"].isNull())
    bad = df.filter(df["_corrupt_record"].isNotNull())
    assert sorted(
        (r["event_id"], r["value"]) for r in good.collect()
    ) == [(1, 2.5), (2, None)]
    raws = sorted(r["_corrupt_record"] for r in bad.collect())
    assert raws == ["3,click,###", "not-a-number,view,1.0"]


def test_bp2_merge_is_left_to_right_non_overlapping(spark, tmp_path):
    """BPE's merge rule on overlapping runs: pair 'aa' applied to 'aaa'
    yields [aa, a] — two symbols, not one and not three."""
    docs = spark.createDataFrame(
        [(1, "aaa aa b", "en", "s", 8)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf_dir = _stage(spark, tmp_path, "documents", docs)
    row = QUERIES["bp2_bpe_merge_apply_documents"](spark, sf_dir).collect()[0]
    # top pair is 'aa' (count 3); symbols: aaa->3, aa->2, b->1 = 6 before;
    # after the merge: [aa,a]=2, [aa]=1, [b]=1 = 4.
    assert (row["top_pair"], row["n_symbols_before"], row["n_symbols_after"]) \
        == ("aa", 6, 4)


def test_ks1_matches_hand_computed_statistic(spark, tmp_path):
    """Samples [1,2,3] vs [2,3,4]: the exact two-sample KS statistic is
    1/3, found at every value below 4 — integer cross-multiplication must
    reproduce it exactly."""
    events = spark.createDataFrame(
        [("click", 1.0), ("click", 2.0), ("click", 3.0),
         ("purchase", 2.0), ("purchase", 3.0), ("purchase", 4.0)],
        "event_type string, value double",
    )
    sf_dir = _stage(spark, tmp_path, "events", events)
    row = QUERIES["ks1_ks_drift_events"](spark, sf_dir).collect()[0]
    assert (row["n1"], row["n2"]) == (3, 3)
    assert row["ks_stat"] == round(1.0 / 3.0, 6)


def test_qz1_flat_vector_quantizes_losslessly(spark, tmp_path):
    """A constant vector has zero range — the scale=0 branch must report
    exactly zero error, and a 2-value vector must reconstruct its own
    endpoints exactly (codes 0 and 255)."""
    emb = spark.createDataFrame(
        [(1, [3.0, 3.0, 3.0], 0), (2, [0.0, 1.0], 1)],
        "vec_id long, embedding array<double>, label int",
    )
    sf_dir = _stage(spark, tmp_path, "embeddings", emb)
    rows = {
        r["label"]: (r["avg_mse_micro"], r["max_mse_micro"])
        for r in QUERIES["qz1_quantized_embedding_error"](spark, sf_dir).collect()
    }
    assert rows == {0: (0.0, 0.0), 1: (0.0, 0.0)}


def test_polymorphic_udtf_schema_follows_k(spark):
    """The analyze() API computes the output schema at plan time from the
    constant k — 2 columns for k=2, 5 for k=5; deterministic tie order;
    NULL padding past the vocabulary."""
    from agent_data_wrangler_spark.operators.pandas_ops import (
        TopTokensUDTF,
        make_polymorphic_udtf,
    )

    spark.udtf.register("tt_test", make_polymorphic_udtf(TopTokensUDTF))
    two = spark.sql("SELECT * FROM tt_test('b a b', 2)")
    assert two.columns == ["token_1", "token_2"]
    assert [tuple(r) for r in two.collect()] == [("b", "a")]
    five = spark.sql("SELECT * FROM tt_test('x', 5)")
    assert five.columns == [f"token_{i}" for i in range(1, 6)]
    assert [tuple(r) for r in five.collect()] == [("x", None, None, None, None)]


def test_ns1_empty_corpus_returns_empty_not_div_zero(spark, tmp_path):
    """Zero documents must yield an empty result, not an ANSI
    DIVIDE_BY_ZERO from the probe modulo."""
    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_dir = _stage(spark, tmp_path, "documents", docs)
    assert QUERIES["ns1_negative_samples_documents"](spark, sf_dir).count() == 0
