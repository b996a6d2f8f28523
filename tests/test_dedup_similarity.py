"""Unit tests for the LLM-data-pipeline tier (SURVEY §2.7): near-dup dedup
(MinHash+LSH, exact Jaccard, SimHash), similarity search (brute force + LSH),
and the text-analysis scalar functions.

Planted-near-duplicate recall is the key property the oracle queries cannot
check (candidate generation depends on engine hash functions): we synthesize
documents with known near-dup structure and assert the pipeline finds them.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from agent_data_wrangler_spark.functions.text import (
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from agent_data_wrangler_spark.operators import dedup, similarity

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)


@pytest.fixture(scope="module")
def planted_docs(spark):
    # 0/1: near-dups (one word changed). 2: exact dup of 0. 3/4: unrelated.
    rows = [
        (0, BASE),
        (1, BASE.replace("lazy", "sleepy")),
        (2, BASE),
        (3, "completely different text about spark shuffles and parquet column pruning at scale"),
        (4, "short"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_minhash_finds_planted_near_dups(planted_docs):
    pairs = dedup.near_dup_pairs_minhash(
        planted_docs, "doc_id", "text", k=3, num_hashes=64, bands=16, threshold=0.5
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # Exact dup pair and the one-word-change pair must be found; the unrelated
    # doc must never pair with anything.
    assert (0, 2) in got
    assert (0, 1) in got and (1, 2) in got
    assert not any(3 in p or 4 in p for p in got)


def test_minhash_exact_dup_jaccard_is_one(planted_docs):
    pairs = dedup.near_dup_pairs_minhash(planted_docs, "doc_id", "text", threshold=0.5)
    jacc = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert jacc[(0, 2)] == 1.0
    assert 0.5 <= jacc[(0, 1)] < 1.0


def test_drop_near_duplicates_keeps_first(planted_docs):
    survivors = dedup.drop_near_duplicates(planted_docs, "doc_id", "text", threshold=0.5)
    ids = sorted(r.doc_id for r in survivors.collect())
    # 1 and 2 are near-dups of 0 → dropped; 0 (smallest id), 3, 4 survive.
    assert ids == [0, 3, 4]


def test_exact_jaccard_matches_hand_computation(spark):
    # shingles(k=2) of "a b c d" = {a b, b c, c d}; of "a b c e" = {a b, b c, c e}
    # intersection 2, union 4 → J = 0.5
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "doc_id bigint, text string")
    pairs = dedup.near_dup_pairs_exact(df, "doc_id", "text", k=2, threshold=0.4)
    rows = pairs.collect()
    assert len(rows) == 1
    assert rows[0].jaccard == 0.5


def test_exact_jaccard_max_df_filters_stop_shingles(spark):
    # A shingle present in every doc is dropped with max_shingle_df=2, so the
    # only-common-shingle pair falls below threshold.
    df = spark.createDataFrame(
        [(1, "x y z a"), (2, "x y z b"), (3, "x y z c")], "doc_id bigint, text string"
    )
    with_stop = dedup.near_dup_pairs_exact(df, "doc_id", "text", k=3, threshold=0.1)
    without = dedup.near_dup_pairs_exact(df, "doc_id", "text", k=3, threshold=0.1, max_shingle_df=2)
    assert with_stop.count() == 3  # all pairs share 'x y z'
    assert without.count() == 0


def test_simhash_deterministic_and_locality(spark):
    df = spark.createDataFrame(
        [(0, BASE), (1, BASE), (2, BASE.replace("lazy", "sleepy")), (3, "entirely unrelated words here")],
        "id bigint, text string",
    )
    sh = df.select("id", dedup.simhash("text").alias("h"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("ia"),
            F.col("b.id").alias("ib"),
            dedup.hamming_distance(F.col("a.h"), F.col("b.h")).alias("d"),
        )
    )
    d = {(r.ia, r.ib): r.d for r in pairs.collect()}
    assert d[(0, 1)] == 0  # identical text → identical simhash
    assert d[(0, 2)] < d[(0, 3)]  # near-dup closer than unrelated


def test_topk_cosine_exact(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0]), (4, [-1.0, 0.0])],
        "id bigint, v array<double>",
    )
    out = similarity.topk_cosine(df, "v", [1.0, 0.0], k=2, payload_cols=["id"])
    rows = out.collect()
    assert [r.id for r in rows] == [1, 3]
    assert rows[0].cos_sim == 1.0
    assert rows[1].cos_sim == pytest.approx(0.707107, abs=1e-6)


def test_lsh_topk_finds_planted_neighbor(spark):
    import math

    # 200 low-similarity background vectors + one planted near-copy of the query.
    q = [math.sin(3 * i + 1) for i in range(16)]
    planted = [v * 1.1 for v in q]
    rows = [(999, planted)] + [
        (i, [math.sin((i + 7) * (d + 3)) for d in range(16)]) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    exact = similarity.topk_cosine(df, "v", q, k=1, payload_cols=["id"]).collect()
    approx = similarity.topk_cosine_lsh(
        df, "v", q, k=1, num_planes=8, multiprobe=1, payload_cols=["id"]
    ).collect()
    assert exact[0].id == 999
    assert approx[0].id == 999  # scaled copy shares the query's bucket exactly
    assert approx[0].cos_sim == pytest.approx(1.0, abs=1e-9)


def test_similarity_join_lsh_finds_planted_pair(spark):
    import math

    base = [math.sin(i + 2) for i in range(16)]
    rows = [(1, base), (2, [v * 1.01 for v in base])] + [
        (i, [math.sin((i + 11) * (d + 5)) for d in range(16)]) for i in range(10, 60)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    pairs = similarity.similarity_join_lsh(
        df, df, "embedding", threshold=0.99, num_planes=8, id_col="vec_id"
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got


def test_text_functions_basics(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is here"),
            (2, "el perro y la casa es grande los dias"),
            (3, ""),
            (4, "zzz qqq xxx"),
        ],
        "id bigint, text string",
    )
    out = df.select(
        "id",
        token_count("text").alias("tc"),
        lang_id("text").alias("lang"),
        fingerprint("text").alias("fp"),
        quality_score("text").alias("q"),
    ).collect()
    by_id = {r.id: r for r in out}
    assert by_id[1].tc == 7 and by_id[1].lang == "en"
    assert by_id[2].lang == "es"
    assert by_id[3].tc == 0 and by_id[3].lang == "und"
    assert by_id[4].lang == "und"
    # fingerprint is case/whitespace-insensitive
    df2 = spark.createDataFrame([(1, "  THE cat   and the dog is here ")], "id bigint, text string")
    fp2 = df2.select(fingerprint("text").alias("fp")).collect()[0].fp
    assert fp2 == by_id[1].fp
    assert 0.0 <= by_id[1].q <= 1.0


def test_ivf_topk_finds_planted_neighbor(spark):
    import math

    from pyspark.sql import functions as F

    q = [math.sin(5 * i + 2) for i in range(16)]
    planted = [v * 0.9 for v in q]
    rows = [(999, planted)] + [
        (i, [math.sin((i + 3) * (d + 13)) for d in range(16)]) for i in range(150)
    ]
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    exact = similarity.topk_cosine(df, "v", q, k=1, payload_cols=["id"]).collect()
    approx = similarity.topk_cosine_ivf(
        df, "v", q, k=1, n_lists=4, nprobe=1, payload_cols=["id"]
    ).collect()
    assert exact[0].id == 999
    # the scaled copy shares the query's direction -> same inverted list
    assert approx[0].id == 999
    assert approx[0].cos_sim == pytest.approx(1.0, abs=1e-9)


def test_ivf_assign_is_deterministic(spark):
    from agent_data_wrangler_spark.operators.similarity import ivf_assign, ivf_fit_centroids

    df = spark.createDataFrame(
        [(i, [float(i % 4 == j) for j in range(4)]) for i in range(40)], "id bigint, v array<double>"
    )
    c1 = ivf_fit_centroids(df, "v", n_lists=4, seed=7)
    c2 = ivf_fit_centroids(df, "v", n_lists=4, seed=7)
    assert c1 == c2  # seeded fit is reproducible
    a = df.select("id", ivf_assign("v", c1).alias("l")).collect()
    # one-hot vectors in 4 dims with 4 lists -> each direction its own list
    by_dir = {}
    for r in a:
        by_dir.setdefault(r.id % 4, set()).add(r.l)
    assert all(len(s) == 1 for s in by_dir.values())


def test_connected_components_transitive_closure(spark):
    # Path graph 1-2-3 (1 and 3 never paired directly) plus disjoint pair 10-11:
    # transitivity must put 3 into component 1.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint"
    )
    comps = {
        r["id"]: r["component_id"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_drop_near_duplicates_clustered_keeps_one_per_cluster(planted_docs):
    kept = dedup.drop_near_duplicates_clustered(
        planted_docs, "doc_id", "text", threshold=0.5
    )
    ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    # {0,1,2} is one near-dup cluster (0/1 near-dups, 2 exact dup of 0) ->
    # only the smallest id survives; 3 and 4 are unrelated singletons.
    assert ids == [0, 3, 4]


def test_connected_components_string_ids_shuffle_joins(spark):
    # Regression guards for two scale bugs: (a) the broadcast hint must be
    # size-guarded, so the closure still converges with broadcasts disabled
    # entirely; (b) convergence detection must be type-agnostic — a label-SUM
    # check on string ids would throw under ANSI mode (or silently stop after
    # two rounds), truncating chains longer than ~2 hops.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # 6-node path graph: full closure needs >2 propagation rounds.
        chain = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f")]
        pairs = spark.createDataFrame(chain, "id_a string, id_b string")
        comps = {
            r["id"]: r["component_id"]
            for r in dedup.connected_components(
                pairs, local_edge_limit=0
            ).collect()
        }
        assert comps == {x: "a" for x in "abcdef"}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_connected_components_local_matches_distributed(spark):
    # The size-guarded driver-side union-find fast path must agree exactly
    # with the distributed min-label propagation on a graph that mixes
    # chains, stars, and disjoint pairs.
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(60)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    local = {
        r["id"]: r["component_id"]
        for r in dedup.connected_components(pairs).collect()
    }
    dist = {
        r["id"]: r["component_id"]
        for r in dedup.connected_components(pairs, local_edge_limit=0).collect()
    }
    assert local == dist and local


def test_minhash_strategies_bit_identical(spark, sf_dir):
    """agg (explode+hash-agg) and fold (Column fold) signature strategies
    must produce identical signatures — including the all-P sentinel for
    docs with fewer than k tokens."""
    from agent_data_wrangler_spark.operators.dedup import minhash_signatures
    from agent_data_wrangler_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents").limit(300)
    extra = spark.createDataFrame(
        [(90001, "one two"), (90002, ""), (90003, "a b c d e")],
        "doc_id long, text string",
    )
    d = docs.select("doc_id", "text").unionByName(extra)
    a = minhash_signatures(d, "doc_id", "text", strategy="agg")
    f = minhash_signatures(d, "doc_id", "text", strategy="fold")
    joined = a.withColumnRenamed("__sig", "sa").join(
        f.withColumnRenamed("__sig", "sf"), "__id"
    )
    assert joined.count() == d.count()
    assert joined.filter(F.col("sa") != F.col("sf")).count() == 0


def test_blocked_editdist_finds_planted_corruption(spark):
    """Char-level corruption (OCR-ish edits) that keeps the first token and
    length band must pair with its original at the true edit distance;
    docs in different blocks never pair (the documented recall contract)."""
    from agent_data_wrangler_spark.operators.dedup import blocked_editdist_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base.replace("gamma", "gamna").replace("iota", "i0ta")),  # 2 edits
        (3, "alpha " + "x" * len(base)),          # same first token, far length band
        (4, "omega " + base[6:]),                 # different first token
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b): r.dist
             for r in blocked_editdist_pairs(df, "doc_id", "text", max_dist=40).collect()}
    assert pairs.get((1, 2)) == 2
    assert all({a, b} == {1, 2} for a, b in pairs), pairs


def test_blocked_editdist_keep_unverified_is_candidate_enumeration(spark):
    """keep_unverified=True returns one row per in-block unordered pair —
    exactly sum nC2 over blocks (the bl1 r14 fold rests on this) — with the
    -1 sentinel on pairs beyond max_dist, and filtering the sentinel out
    reproduces the default output bit-for-bit."""
    from pyspark.sql import functions as F

    from agent_data_wrangler_spark.operators.dedup import (
        blocked_editdist_pairs,
        editdist_block_key,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base.replace("gamma", "gamna")),            # 1 edit, same block
        (3, base.replace("delta", "de1ta x")),          # same block, 3 edits
        (4, base + " " + "padding " * 40),              # same first tokens, far band
        (5, "omega " + base[6:]),                       # different block
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    blocks = (
        df.groupBy(editdist_block_key("text").alias("bk"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    expected_cands = sum(r.n * (r.n - 1) // 2 for r in blocks)
    unfiltered = blocked_editdist_pairs(
        df, "doc_id", "text", max_dist=2, keep_unverified=True
    ).collect()
    assert len(unfiltered) == expected_cands
    assert {r.dist for r in unfiltered} >= {-1}  # sentinel present (pair 1-3)
    default = {
        (r.id_a, r.id_b, r.dist)
        for r in blocked_editdist_pairs(df, "doc_id", "text", max_dist=2).collect()
    }
    refiltered = {(r.id_a, r.id_b, r.dist) for r in unfiltered if r.dist >= 0}
    assert default == refiltered == {(1, 2, 1)}


def test_derive_lsh_params_scaling():
    """Size-derived LSH defaults: mean bucket ~64 rows, probed fraction
    shrinks with n (the no-magic-numbers contract from round 4's verdict)."""
    from agent_data_wrangler_spark.operators.similarity import derive_lsh_params

    assert derive_lsh_params(500) == (2, 2)
    assert derive_lsh_params(2_000) == (4, 2)
    planes_1e6, _ = derive_lsh_params(1_000_000)
    planes_1e9, _ = derive_lsh_params(1_000_000_000)
    assert planes_1e6 == 13  # floor(log2(1e6/64))
    assert planes_1e9 == 23  # floor(log2(1e9/64))
    # probed bucket count 1 + p + C(p,2) must be a shrinking FRACTION of 2^p
    for n, planes in [(2_000, 4), (1_000_000, 13), (1_000_000_000, 23)]:
        probed = 1 + planes + planes * (planes - 1) // 2
        assert probed / 2**planes < probed / 2 ** derive_lsh_params(n // 2)[0] or n == 2_000
    assert derive_lsh_params(10) == (1, 2)  # tiny table degenerates gracefully


def test_derive_ivf_params_scaling():
    """IVF defaults: sqrt(n) lists; nprobe covers >= ~1024 expected rows at
    small n (degenerating to probe-everything below ~1k rows — correct for a
    table that small) and a sqrt(n_lists)/2 sample floor at large n."""
    from agent_data_wrangler_spark.operators.similarity import derive_ivf_params

    assert derive_ivf_params(500) == (22, 22)          # probes every list
    n_lists, nprobe = derive_ivf_params(2_000)
    assert (n_lists, nprobe) == (45, 24)               # ~53% probed
    n_lists, nprobe = derive_ivf_params(1_000_000_000)
    assert n_lists == 31_623 and nprobe < n_lists * 0.01  # ~0.3% probed


def test_ann_recall_on_testdata(spark, sf_dir):
    """Derived-param LSH and IVF recall@10 >= 0.8 against the exact scan on
    the real embeddings table (the round-5 verdict's 'done' criterion)."""
    from agent_data_wrangler_spark.queryset_nstar import QUERY_VEC
    from agent_data_wrangler_spark.sources.readers import read_table

    e = read_table(spark, sf_dir, "embeddings")
    exact = {r.vec_id for r in similarity.topk_cosine(
        e, "embedding", QUERY_VEC, k=10, payload_cols=["vec_id"]).collect()}
    lsh = {r.vec_id for r in similarity.topk_cosine_lsh(
        e, "embedding", QUERY_VEC, k=10, payload_cols=["vec_id"]).collect()}
    ivf = {r.vec_id for r in similarity.topk_cosine_ivf(
        e, "embedding", QUERY_VEC, k=10, payload_cols=["vec_id"]).collect()}
    assert len(lsh & exact) >= 8
    assert len(ivf & exact) >= 8


def test_blocked_editdist_max_block_size_guard(spark):
    """A degenerate block (every doc shares the leading 2 tokens + length
    band) must not re-create the quadratic join: oversized blocks are
    refined by exact length; still-oversized refined blocks are skipped
    with a reported metric (the max_shingle_df philosophy)."""
    from agent_data_wrangler_spark.operators.dedup import blocked_editdist_pairs

    # 30 docs, identical leading tokens, SAME exact length -> one hot block
    # that length-refinement cannot split (skip path). 12 more docs sharing
    # one other length band but spread over 6 exact lengths (2 each) ->
    # oversized block that length-refinement DOES split into pairs (refine
    # path keeps their within-length pairs).
    hot = [(i, "common prefix " + f"body{i:02d}") for i in range(30)]
    vari = [
        (100 + 10 * j + r, "common prefix " + "y" * (81 + j) + ("z" if r else "y"))
        for j in range(6) for r in range(2)
    ]
    df = spark.createDataFrame(hot + vari, "doc_id long, text string")

    uncapped = blocked_editdist_pairs(df, "doc_id", "text", max_dist=100)
    assert uncapped.filter((F.col("id_a") < 30) & (F.col("id_b") < 30)).count() == 30 * 29 // 2

    pairs, metrics = blocked_editdist_pairs(
        df, "doc_id", "text", max_dist=100, max_block_size=10, with_metrics=True
    )
    got = pairs.collect()
    # the unsplittable hot block is skipped entirely...
    assert not [r for r in got if r.id_a < 30 and r.id_b < 30]
    # ...while the splittable one keeps exactly its 6 within-length pairs
    vari_pairs = {(r.id_a, r.id_b) for r in got if r.id_a >= 100}
    assert vari_pairs == {(100 + 10 * j, 101 + 10 * j) for j in range(6)}
    m = metrics.collect()[0]
    assert m.n_blocks_skipped == 1 and m.n_rows_skipped == 30
    assert m.n_blocks_refined == 2

    # metrics without a cap report zeros (and the no-metrics default returns
    # a bare DataFrame, unchanged API)
    _, m0 = blocked_editdist_pairs(df, "doc_id", "text", with_metrics=True)
    r0 = m0.collect()[0]
    assert (r0.n_blocks_refined, r0.n_blocks_skipped, r0.n_rows_skipped) == (0, 0, 0)


# Every registry query that caches a frame while it runs. Each must leave
# the cache manager EMPTY once its caller has collected the result.
_PERSISTING_QUERIES = (
    "p5a_describe_approx_lineitem", "sub7_key_part_revenue_share",
    "wa1_weekly_active_users_events", "ks1_ks_drift_events",
    "tr1_triangle_count", "n5_minhash_neardup_documents",
    "n7_lsh_topk_embeddings", "n8_embedding_neardup_pairs",
    "n9_ivf_topk_embeddings", "n10_lsh_pruned_topk_embeddings",
    "n11_ivf_pruned_topk_embeddings", "n12_incremental_neardup_documents",
    "kl1_source_drift_documents", "gr1_pagerank_trade_graph",
    "cl1_label_centroid_confusion", "bp2_bpe_merge_apply_documents",
    "bp3_bpe_train_documents", "ss1_prefix_jaccard_documents",
    "pq1_pq_topk_embeddings", "bm1_bm25_rank_documents",
    "lk1_split_leakage_documents", "tw1_temperature_weights_documents",
    "px1_bigram_xent_documents", "li1_language_id_documents",
    "qf1_quality_classifier_documents",
)


def test_dedup_queries_release_every_persist(spark):
    """Every query that caches a frame (operators/held.py) must leave the
    cache manager EMPTY after its result is collected: a long-lived
    session serves many calls, and a leaked entry per call accumulates
    (multi-hundred-MB entries at sf10). Dropping the staged trade-graph
    rollup makes tr1/gr1 run their build too."""
    from __spark_entry__ import queries
    from agent_data_wrangler_spark.plans import derived

    for key in [k for k in derived._STAGED if k[0][0] == "trade_graph"]:
        derived._drop_scratch(derived._STAGED.pop(key)[1])
    q = queries()
    sf = "/root/testdata/sf0.001"
    cm = spark._jsparkSession.sharedState().cacheManager()
    leaked = []
    for name in _PERSISTING_QUERIES:
        spark.catalog.clearCache()
        q[name](spark, sf).collect()
        if not cm.isEmpty():
            leaked.append(name)
    spark.catalog.clearCache()
    assert not leaked, f"queries leaked cache entries: {leaked}"


def test_band_key_packing_is_exact(spark):
    """r09 scale item: band keys are packed 31-bit-pairs-per-BIGINT structs
    instead of strings. The packing must be INJECTIVE — two signatures
    share a packed band key iff the raw minhash slices are equal — for
    every slice parity (even r, odd r), including boundary values 0 and
    P-1 whose string forms differ but whose packed sums could collide if
    the shift width were wrong."""
    from pyspark.sql import functions as F

    P = 2**31 - 1
    # Signatures engineered so naive packing mistakes are visible:
    # (0, P-1) vs (1, 2**31-2**31) style near-boundary swaps.
    sigs = [
        [0, P - 1, 5, 6],
        [1, 2147483646 - 2147483648 + P, 5, 6],  # != row 0 in slice 0
        [0, P - 1, 5, 7],                        # equal band 0, differs band 1
        [0, P - 1, 5, 6],                        # exact dup of row 0
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sigs)], "id int, sig array<bigint>")
    for bands, r in ((2, 2), (1, 3)):  # even and odd rows_per_band
        keyed = df.select(
            "id", F.explode(dedup.band_keys("sig", bands, r)).alias("k"))
        a, b = keyed.alias("a"), keyed.alias("b")
        got = {
            (x["aid"], x["bid"], x["band"]) for x in
            a.join(b, (F.col("a.k") == F.col("b.k"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("aid"), F.col("b.id").alias("bid"),
                    F.col("a.k.b").alias("band")).collect()
        }
        # Ground truth from the raw slices.
        want = set()
        for i in range(len(sigs)):
            for j in range(i + 1, len(sigs)):
                for band in range(bands):
                    if (sigs[i][band * r:(band + 1) * r]
                            == sigs[j][band * r:(band + 1) * r]):
                        want.add((i, j, band))
        assert got == want, (bands, r, got, want)


def test_empty_shingle_docs_never_band_collide(spark):
    """ADVICE r05 (medium): m sub-k-token docs all carry the identical all-P
    sentinel signature; before the sentinel filter they band-collided with
    each other in every band, emitting O(m^2) candidate pairs the verify
    stage only later discarded. Candidates among empty docs must be ZERO."""
    rows = [(i, "tiny") for i in range(40)] + [
        (100, BASE), (101, BASE.replace("lazy", "sleepy"))
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    cands = dedup.near_dup_candidates(df, "doc_id", "text", k=3)
    got = {(r.id_a, r.id_b) for r in cands.collect()}
    assert not [p for p in got if p[0] < 100 or p[1] < 100], (
        "empty-shingle docs produced candidate pairs"
    )
    assert (100, 101) in got  # real near-dups still found


def test_connected_components_raises_on_non_convergence(spark):
    """ADVICE r05: exhausted max_iter must raise, never return partial
    (wrong) labels. A 12-node path graph needs ~6 doubling-ish rounds;
    max_iter=1 (2 propagation rounds) cannot reach fixpoint."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=1, local_edge_limit=0)
    # and with enough rounds the same graph converges to one component
    comps = dedup.connected_components(pairs, max_iter=10, local_edge_limit=0)
    assert {r.component_id for r in comps.collect()} == {0}


def test_shared_shingle_stage_bit_identical(planted_docs):
    """shingle_frame-fed paths must produce byte-identical results to the
    from-text paths: signatures (both strategies), exact pairs, and the full
    minhash funnel (r05 verdict item 4 — shared stage for n5/n12)."""
    sh = dedup.shingle_frame(planted_docs, "doc_id", "text", k=3).persist()
    sh.count()
    try:
        for strat in ("fold", "agg"):
            direct = dedup.minhash_signatures(
                planted_docs, "doc_id", "text", k=3, strategy=strat
            )
            shared = dedup.minhash_signatures(
                planted_docs, "doc_id", "text", k=3, strategy=strat,
                shingles_df=sh,
            )
            assert sorted((r['__id'], tuple(r['__sig'])) for r in direct.collect()) == \
                   sorted((r['__id'], tuple(r['__sig'])) for r in shared.collect())

        ex_direct = dedup.near_dup_pairs_exact(
            planted_docs, "doc_id", "text", k=3, threshold=0.5
        )
        ex_shared = dedup.near_dup_pairs_exact(
            planted_docs, "doc_id", "text", k=3, threshold=0.5, shingles_df=sh
        )
        assert sorted(map(tuple, ex_direct.collect())) == \
               sorted(map(tuple, ex_shared.collect()))

        mh_direct = dedup.near_dup_pairs_minhash(
            planted_docs, "doc_id", "text", threshold=0.5
        )
        mh_shared = dedup.near_dup_pairs_minhash(
            planted_docs, "doc_id", "text", threshold=0.5, shingles_df=sh
        )
        assert sorted(map(tuple, mh_direct.collect())) == \
               sorted(map(tuple, mh_shared.collect()))
    finally:
        sh.unpersist()


def test_misra_gries_superset_and_partition_independence(spark):
    """The MG guarantee the hh1 oracle leans on: candidates are a SUPERSET
    of true heavy hitters under ANY partitioning, and heavy_hitters() is
    exactly the naive GROUP BY HAVING result regardless of layout."""
    import pyspark.sql.functions as F

    from agent_data_wrangler_spark.functions.text import tokens
    from agent_data_wrangler_spark.operators import sketches

    rows = [("x " * 30 + "y " * 5 + f"rare{i}",) for i in range(40)]
    df = spark.createDataFrame(rows, ["text"])
    expected = None
    for parts in (1, 3, 7):
        d = df.repartition(parts)
        tok = d.select(F.explode(tokens(F.lower(F.col("text")))).alias("t"))
        n = tok.count()
        true_hh = {
            r["t"]
            for r in tok.groupBy("t").count().filter(F.col("count") * 8 > n).collect()
        }
        cand = {
            r["token"]
            for r in sketches.misra_gries_candidates(d, "text", k=8).collect()
        }
        assert true_hh <= cand, (parts, true_hh - cand)
        got = sorted(
            tuple(r) for r in sketches.heavy_hitters(d, "text", k=8).collect()
        )
        assert {t for t, _ in got} == true_hh
        if expected is None:
            expected = got
        else:
            assert got == expected, f"partitioning changed the result at {parts}"


def test_misra_gries_ascii_whitespace_parity(spark):
    """U+00A0 (non-breaking space) is NOT a token boundary: Java/RE2 \\s is
    ASCII-only, so a heavy token containing it must survive the pandas MG
    pass intact — pandas str.split() (Unicode-aware) would fracture it and
    silently drop it from the candidate superset."""
    import pyspark.sql.functions as F

    from agent_data_wrangler_spark.functions.text import tokens
    from agent_data_wrangler_spark.operators import sketches

    weird = "foo bar"
    rows = [(f"{weird} filler{i}",) for i in range(20)]
    df = spark.createDataFrame(rows, ["text"])
    tok = df.select(F.explode(tokens(F.lower(F.col("text")))).alias("t"))
    n = tok.count()
    true_hh = {
        r["t"] for r in tok.groupBy("t").count().filter(F.col("count") * 4 > n).collect()
    }
    assert weird in true_hh  # JVM side keeps it whole
    got = {t for t, _ in sketches.heavy_hitters(df, "text", k=4).collect()}
    assert got == true_hh


def test_incremental_neardup_drops_empty_shingle_sentinels(spark):
    """Empty (sub-k-token) docs on BOTH sides of the incremental band join
    must be dropped before banding — they all share the all-P sentinel
    signature, so without the filter m_b x m_c x bands join rows appear."""
    from agent_data_wrangler_spark.operators import dedup

    batch = spark.createDataFrame(
        [(1, "a b"), (2, "x y"), (3, "one two three four five six")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [(10, "p q"), (11, "r s"), (12, "one two three four five six seven")],
        ["doc_id", "text"],
    )
    pairs = dedup.near_dup_pairs_incremental(
        corpus, batch, "doc_id", "text", k=3, threshold=0.5
    ).collect()
    got = {(r["batch_id"], r["corpus_id"]) for r in pairs}
    # only the real near-dup pair survives; no sentinel cross products
    assert got == {(3, 12)}


def test_append_guard_rejects_mixed_dim_delta(spark, tmp_path):
    """A delta whose FIRST row has the right dim but a later row does not
    must be rejected — one-row sampling would mis-bucket the short rows
    into partition 0, silently invisible to pruned probes."""
    import pytest

    from agent_data_wrangler_spark.operators import similarity

    base = spark.createDataFrame(
        [(i, [float(i), float(i + 1), 0.0, 1.0]) for i in range(20)],
        ["vec_id", "embedding"],
    )
    path = str(tmp_path / "lsh_layout")
    similarity.write_lsh_bucketed(base, "embedding", path, num_planes=4, seed=7)
    bad = spark.createDataFrame(
        [(100, [1.0, 2.0, 3.0, 4.0]), (101, [1.0, 2.0])],
        ["vec_id", "embedding"],
    )
    with pytest.raises(ValueError, match="dim"):
        similarity.append_lsh_bucketed(bad, "embedding", path)
    # array<double> to match the layout's write-time schema: the r12
    # dtype-divergence guard fires first otherwise, masking the
    # all-null-delta check this case exists to pin.
    allnull = spark.createDataFrame(
        [(102, None)], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(ValueError, match="non-null"):
        similarity.append_lsh_bucketed(allnull, "embedding", path)


# ---------------------------------------------------------------------------
# Prefix filtering (near_dup_pairs_prefix): must be EXACTLY equal to the
# full inverted-index join at the same (k, threshold) — completeness is the
# PPJoin Lemma 1 claim the operator rides on, soundness is the shared
# verify stage. Swept across thresholds to exercise the prefix-length
# arithmetic (floor boundary cases at t*n integral and fractional).
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.6, 0.75, 0.9])
def test_prefix_filter_equals_inverted_index(spark, planted_docs, threshold):
    exact = sorted(
        dedup.near_dup_pairs_exact(
            planted_docs, "doc_id", "text", k=3, threshold=threshold
        ).collect()
    )
    pref = sorted(
        dedup.near_dup_pairs_prefix(
            planted_docs, "doc_id", "text", k=3, threshold=threshold
        ).collect()
    )
    assert pref == exact
    if threshold <= 0.9:
        # the planted (0,1) near-dup and the (0,2) exact dup must be found
        pairs = {(r.id_a, r.id_b) for r in pref}
        assert (0, 2) in pairs


def test_prefix_filter_candidate_volume_shrinks(spark):
    """The point of prefix filtering: fewer candidate pairs than the full
    inverted index. 40 docs sharing a long common core + distinct tails —
    every pair shares shingles (full index: all 780 pairs are candidates),
    but at t=0.9 the prefix (6 shingles here) fits entirely inside each
    doc's df=1 tail shingles, so the high-df core never enters a prefix
    and the candidate set is EMPTY — while staying complete (no pair
    reaches J=0.9: shared core 28 of 34 shingles gives J=0.7)."""
    core = " ".join(f"w{i}" for i in range(30))
    rows = [
        (i, core + f" tail{i} alpha{i} beta{i} gamma{i} delta{i} eps{i}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    t = 0.9
    sh = dedup.shingle_frame(df, "doc_id", "text", k=3)
    ex = sh.select("__id", F.size("__sh").alias("__n"), F.explode("__sh").alias("__s"))
    full_cands = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.__s") == F.col("b.__s")) & (F.col("a.__id") < F.col("b.__id")),
        )
        .select("a.__id", "b.__id")
        .distinct()
        .count()
    )
    dfc = ex.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    plen = (F.col("__n") - F.floor(F.lit(t) * F.col("__n")) + F.lit(1)).cast("int")
    pref = (
        ex.join(dfc, "__s")
        .groupBy("__id", "__n")
        .agg(F.sort_array(F.collect_list(F.struct(F.col("__df"), F.col("__s")))).alias("__o"))
        .select("__id", F.explode(F.slice("__o", F.lit(1), plen)).alias("__e"))
        .select("__id", F.col("__e.__s").alias("__s"))
    )
    pref_cands = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.__s") == F.col("b.__s")) & (F.col("a.__id") < F.col("b.__id")),
        )
        .select("a.__id", "b.__id")
        .distinct()
        .count()
    )
    assert full_cands == 40 * 39 // 2  # common core makes every pair collide
    assert pref_cands == 0  # prefixes hold only df=1 tail shingles


def test_minhash_verify_equals_exact_semijoin(spark):
    """The r14 shared-verify restructure of n5/n12: for ANY candidate set,
    jaccard_verify at threshold t keeps exactly the candidates present in
    near_dup_pairs_exact(t) — a verified candidate has J >= t > 0, so it
    shares a shingle and appears in the inverted-index pair set with the
    identical round-6 Jaccard. Pinned on a corpus with exact dups, near
    dups, sub-threshold pairs and empty-shingle docs."""
    rows = [
        (0, BASE),
        (1, BASE.replace("lazy", "sleepy")),
        (2, BASE),
        (3, BASE.replace("quick", "slow").replace("garden", "yard")),
        (4, "completely different text about spark shuffles and parquet"),
        (5, "short"),
        (6, ""),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    for t in (0.5, 0.7):
        sh = dedup.shingle_frame(d, "doc_id", "text", k=3)
        cands = dedup.near_dup_candidates(
            d, "doc_id", "text", k=3, num_hashes=64, bands=16, shingles_df=sh
        )
        verified = dedup.jaccard_verify(
            d, cands, "doc_id", "text", k=3, threshold=t, shingles_df=sh
        )
        ex = dedup.near_dup_pairs_exact(
            d, "doc_id", "text", k=3, threshold=t, shingles_df=sh
        )
        via_semi = cands.join(
            ex.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi"
        )
        got_verify = {(r.id_a, r.id_b) for r in verified.collect()}
        got_semi = {(r.id_a, r.id_b) for r in via_semi.collect()}
        assert got_verify == got_semi
        # and the incremental shape: batch x corpus candidates, canonicalized
        batch = d.filter(F.col("doc_id") % 2 == 0)
        corpus = d.filter(F.col("doc_id") % 2 != 0)
        icands = dedup.incremental_band_candidates(
            corpus, batch, "doc_id", "text", k=3, num_hashes=64, bands=16
        ).select(
            F.least("batch_id", "corpus_id").alias("id_a"),
            F.greatest("batch_id", "corpus_id").alias("id_b"),
        )
        inc_verified = dedup.near_dup_pairs_incremental(
            corpus, batch, "doc_id", "text", k=3, threshold=t
        ).select(
            F.least("batch_id", "corpus_id").alias("id_a"),
            F.greatest("batch_id", "corpus_id").alias("id_b"),
        )
        got_inc = {(r.id_a, r.id_b) for r in inc_verified.collect()}
        got_inc_semi = {
            (r.id_a, r.id_b)
            for r in icands.join(
                ex.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi"
            ).collect()
        }
        assert got_inc == got_inc_semi


def test_n8_plane_count_uses_the_planted_union_size(
    spark, sf_dir, tmp_path, monkeypatch
):
    """n8 plants ``limit(_N8_PLANT)`` copies, so a table with fewer rows
    than the plant size plants one copy per row: 10 embeddings make a
    20-row union, and the LSH plane count must be derived from 20."""
    from agent_data_wrangler_spark.queryset_nstar import QUERIES
    from agent_data_wrangler_spark.sources.readers import read_table

    read_table(spark, sf_dir, "embeddings").orderBy("vec_id").limit(10) \
        .coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))

    class _Stop(Exception):
        pass

    seen = []

    def capture(n, *args, **kwargs):
        seen.append(n)
        raise _Stop

    monkeypatch.setattr(similarity, "derive_lsh_params", capture)
    with pytest.raises(_Stop):
        QUERIES["n8_embedding_neardup_pairs"](spark, str(tmp_path))
    assert seen == [20]
