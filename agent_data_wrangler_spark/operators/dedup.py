"""Near-duplicate detection for the training-data-pipeline tier (SURVEY §2.7).

The reference wrangles small CSVs and only ever needs pandas
``drop_duplicates`` (exact dedup — see ``operators/filters.py:drop_duplicate_rows``);
at 100 TB of documents the interesting problem is NEAR-dup detection, which the
survey maps to the standard MinHash/LSH pipeline:

    tokens → k-shingles → minhash signature → band buckets → candidate pairs
           → exact-Jaccard verify → keep-first survivor set

Everything before the band self-join is a pure per-row Column expression
(runs inside the scan stage, whole-stage codegen, zero Python); the only
shuffles are (a) the band-bucket self-join on a compact ``(band_idx,
band_key)`` string and (b) the verify join on doc id. That is the shape that
survives 100 TB: signatures are ~64*8 bytes/doc regardless of document size,
and full text never enters a shuffle.

Alternative paths provided:
- ``near_dup_pairs_exact``: shingle-inverted-index self-join with exact
  Jaccard — no approximation, oracle-checkable in DuckDB, and the standard
  verify stage for LSH candidates. Scales with shingle document-frequency;
  ``max_shingle_df`` caps fan-out from stop-shingles (the classic inverted-
  index prefix-filter trick).
- ``simhash``: 64-bit simhash from md5-derived token bits (deterministic,
  library-free); near-dups are rows whose simhash hamming distance is small.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from agent_data_wrangler_spark.functions.text import tokens
from agent_data_wrangler_spark.operators.held import held
from agent_data_wrangler_spark.sources.readers import widen_scan

#: Modulus for the minhash permutation family — Mersenne prime 2^31-1.
#: Keeps a*x+b inside int64 under ANSI mode (a,x < 2^31 → a*x < 2^62).
_MERSENNE_31 = 2_147_483_647


def _lcg_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs in [1, P) for h_i(x) = (a_i*x + b_i) mod P.

    A tiny explicit LCG (numerical-recipes constants) instead of ``random`` so
    the hash family is stable across Python versions and processes.
    """
    state = seed & 0xFFFFFFFF
    out: list[tuple[int, int]] = []
    for _ in range(num_hashes):
        state = (1664525 * state + 1013904223) & 0xFFFFFFFF
        a = state % (_MERSENNE_31 - 1) + 1
        state = (1664525 * state + 1013904223) & 0xFFFFFFFF
        b = state % _MERSENNE_31
        out.append((a, b))
    return out


def shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct word k-grams of the lower-cased text, as an array<string>.

    Documents shorter than k tokens yield an empty array (they can only be
    exact-duplicates, never shingle-near-dups).

    The token array is bound ONCE to a lambda variable (single-element-array
    transform trick): a naive ``transform(sequence(1, n), i -> slice(t, i,
    k))`` inlines the whole ``tokens()`` regex-split tree into every shingle
    position (Catalyst does not CSE inside lambda bodies), turning an O(tokens)
    row into O(tokens × positions) — measured 8.1s → 0.6s for the shingle pass
    over sf0.1 documents.
    """
    c = F.col(col) if isinstance(col, str) else col

    def grams(t: Column) -> Column:
        n = F.greatest(F.size(t) - F.lit(k - 1), F.lit(0))
        g = F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat_ws(" ", F.slice(t, i, k)),
        )
        # sequence(1, 0) yields [1, 0] descending — guard explicitly.
        return F.when(n <= 0, F.array().cast("array<string>")).otherwise(F.array_distinct(g))

    return F.element_at(F.transform(F.array(tokens(F.lower(c))), grams), 1)


def shingle_frame(
    df: DataFrame, id_col: str, text_col: str, *, k: int = 3
) -> DataFrame:
    """The shared shingle stage: ``(__id, __sh array<string>)``.

    Shingling (regex tokenize + k-gram build + distinct) is the CPU-heavy
    prefix of every text-dedup path. When a pipeline runs SEVERAL consumers
    over the same corpus — minhash signatures, an exact inverted index, the
    jaccard-verify stage — compute this frame ONCE, persist it, and pass it
    via each consumer's ``shingles_df`` parameter; otherwise each consumer
    re-derives shingles from raw text in its own scan (measured: the n5+n12
    verdict queries spent ~2x their text-scan budget on repeated shingling).
    """
    return widen_scan(df).select(
        F.col(id_col).alias("__id"), shingles(text_col, k).alias("__sh")
    )


def minhash_signature(shingle_col: Column | str, num_hashes: int = 64, seed: int = 42) -> Column:
    """MinHash signature (array<bigint>, length ``num_hashes``).

    Each shingle is hashed ONCE via xxhash64 → pmod P, then the permutation
    family is cheap modular arithmetic over that single value. Empty shingle
    sets get a sentinel signature of all-P (never collides with real docs).
    """
    sc = F.col(shingle_col) if isinstance(shingle_col, str) else shingle_col
    hashed = F.transform(sc, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_31)))
    # ONE fold over the shingles with an array<bigint> accumulator — per-hash
    # expressions (64 separate array_min/transform trees) would re-derive the
    # whole shingle array per hash function (Catalyst does not CSE across
    # sibling aggregate expressions). The (a,b) table is a foldable literal.
    params = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in _lcg_params(num_hashes, seed)
        ]
    )
    init = F.array_repeat(F.lit(_MERSENNE_31).cast("bigint"), num_hashes)
    return F.aggregate(
        hashed,
        init,
        lambda acc, x: F.zip_with(
            acc,
            F.transform(params, lambda p: (p["a"] * x + p["b"]) % F.lit(_MERSENNE_31)),
            lambda m, h: F.least(m, h),
        ),
    )


def band_keys(sig_col: Column | str, bands: int, rows_per_band: int) -> Column:
    """LSH banding: array of ``bands`` fixed-width packed keys
    ``struct(b, w0, w1, ...)`` — the band index plus the band's minhash
    slice packed two values per BIGINT word.

    Two docs land in the same bucket iff one band of their signatures matches
    exactly — P(candidate) = 1-(1-J^r)^b, the classic S-curve.

    The packing is EXACT (collision-free), not a hash: every minhash value
    is already < 2^31 (mod Mersenne-31), so ``w = hi * 2^31 + lo`` embeds
    two values injectively in one 62-bit BIGINT (an odd tail value rides
    alone). Packed integers replace the former ``"i:v1,v2,..."`` strings
    (r09 scale item: n5's band shuffle was the one growing decade ratio) —
    the band explode/join/distinct now moves ~20-byte fixed-width UnsafeRow
    keys instead of ~50-byte strings, and bucket hashing/compare never
    touches a varlen payload.
    """
    sc = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    n_words = (rows_per_band + 1) // 2
    keys = []
    for i in range(bands):
        fields = [F.lit(i).alias("b")]
        for j in range(n_words):
            lo_idx = i * rows_per_band + 2 * j + 1  # element_at is 1-based
            w = F.element_at(sc, lo_idx)
            if 2 * j + 1 < rows_per_band:
                w = w * F.lit(2147483648) + F.element_at(sc, lo_idx + 1)
            fields.append(w.alias(f"w{j}"))
        keys.append(F.struct(*fields))
    return F.array(*keys)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
    strategy: str = "fold",
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document MinHash signatures → ``(id, sig array<bigint>)``, with two
    physically different but bit-identical strategies (equality unit-pinned).
    The optimum is CORPUS-SHAPED, so both stay first-class and the default
    follows the current measurement:

    - ``"fold"`` (default): zero-shuffle Column fold (aggregate/zip_with)
      computed inside the scan stage — no explode, no exchange. On the
      round-5 corpus (5k docs, ~50 shingles each) this measures ~3x faster
      than agg (0.8s vs 2.4s at sf0.1): the explode+shuffle overhead
      dominates when per-doc shingle counts are modest.
    - ``"agg"``: explode shingle hashes to rows, then ONE hash aggregate
      with ``num_hashes`` primitive ``min`` columns — all arithmetic on
      unboxed longs in UnsafeRow, far lighter on allocation than the fold's
      two boxed 64-element arrays per shingle step. Map-side partial agg
      collapses each doc before the exchange, so the shuffle is ~|docs| x
      num_hashes longs. Measured ~2x faster than the fold on the round-4
      corpus (fewer, heavier docs) — the right choice when docs carry
      thousands of shingles and GC, not shuffle, is the binding constraint.

    ``shingles_df`` (a persisted :func:`shingle_frame`) short-circuits the
    shingle computation for either strategy — the shared-stage path when the
    same corpus also feeds an exact index or a verify stage.
    """
    if strategy == "fold":
        if shingles_df is not None:
            return shingles_df.select(
                "__id",
                minhash_signature(F.col("__sh"), num_hashes, seed).alias("__sig"),
            )
        return widen_scan(df).select(
            F.col(id_col).alias("__id"),
            minhash_signature(shingles(text_col, k), num_hashes, seed).alias("__sig"),
        )
    if strategy != "agg":
        raise ValueError(f"unknown minhash strategy {strategy!r}: use 'agg' or 'fold'")
    params = _lcg_params(num_hashes, seed)
    if shingles_df is not None:
        # Materialized array column from the shared stage — exploding a
        # cached column reads data, it does not re-derive the expression
        # tree, so the named-column Generate caveat below does not apply.
        hashed = shingles_df.select("__id", F.explode_outer("__sh").alias("__s"))
    else:
        hashed = widen_scan(df).select(
            F.col(id_col).alias("__id"),
            # explode_outer keeps empty-shingle docs as a null hash row, so
            # they surface in the aggregate and receive the all-P sentinel
            # signature (min skips nulls -> null -> coalesce), identical to
            # the fold. The shingle EXPRESSION is exploded directly — naming
            # it first de-optimizes Generate (see near_dup_pairs_exact).
            F.explode_outer(shingles(text_col, k)).alias("__s"),
        )
    hashed = hashed.select(
        "__id",
        # xxhash64(NULL) is a seed constant, NOT null — without the guard
        # every sub-k-token doc would share one bogus signature and band-
        # collide with every other empty doc.
        F.when(
            F.col("__s").isNull(), F.lit(None).cast("bigint")
        ).otherwise(F.pmod(F.xxhash64("__s"), F.lit(_MERSENNE_31))).alias("__h"),
    )
    mins = hashed.groupBy("__id").agg(
        *[
            F.min((F.lit(a) * F.col("__h") + F.lit(b)) % _MERSENNE_31).alias(f"__m{i}")
            for i, (a, b) in enumerate(params)
        ]
    )
    sig = F.array(
        *[
            F.coalesce(F.col(f"__m{i}"), F.lit(_MERSENNE_31)).cast("long")
            for i in range(num_hashes)
        ]
    )
    return mins.select("__id", sig.alias("__sig"))


def near_dup_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: ``(id_a, id_b)`` with id_a < id_b, distinct.

    Plan shape: scan → per-doc signature (``minhash_signatures``; see its
    docstring for the agg-vs-fold physical trade) → explode bands (×bands
    fan-out of a tiny string) → self-join on the band key → distinct pairs.
    The join key is a short string, never text; skewed buckets (boilerplate
    shingles) are the known hazard — AQE skew-join handles moderate skew, and
    the verify stage bounds false positives.

    Sub-k-token docs (empty shingle set → all-P sentinel signature) are
    dropped BEFORE band explosion: while the sentinel never collides with a
    real doc, m empty docs would band-collide with EACH OTHER in every band,
    emitting O(m²) candidate pairs that the verify stage only later discards
    (union=0 → NULL jaccard) — a quadratic blowup on web corpora where empty
    docs are common. Empty docs can only be exact duplicates of each other,
    which exact dedup already handles.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        df, id_col, text_col, k=k, num_hashes=num_hashes, seed=seed,
        shingles_df=shingles_df,
    ).filter(F.element_at("__sig", 1) < F.lit(_MERSENNE_31))
    # Band keys are sliced off the signature array `bands` times; the array
    # is a named column here (bound once), and the explode fans out a tiny
    # string per band.
    banded = F.flatten(
        F.transform(F.array(F.col("__sig")), lambda sig: band_keys(sig, bands, rows_per_band))
    )
    keyed = sigs.select(
        "__id",
        F.explode(banded).alias("__band"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(b, (F.col("a.__band") == F.col("b.__band")) & (F.col("a.__id") < F.col("b.__id")))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold: float = 0.8,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verify stage: keep candidate pairs with J >= threshold.

    Output: (id_a, id_b, jaccard). Shingles are computed ONLY for docs that
    appear in a candidate pair (semi-join reduction first): the candidate set
    is tiny relative to the corpus, so re-shingling everything would dominate
    the stage. Then two hash joins keyed on the doc id. A persisted
    :func:`shingle_frame` via ``shingles_df`` replaces the per-doc shingle
    recompute with a cached-column read (still semi-join reduced).
    """
    touched = (
        candidates.select(F.col("id_a").alias("__id"))
        .unionByName(candidates.select(F.col("id_b").alias("__id")))
        .distinct()
    )
    if shingles_df is not None:
        sh = shingles_df.join(touched, "__id", "left_semi").select("__id", "__sh")
    else:
        sh = (
            df.join(touched, df[id_col] == touched["__id"], "left_semi")
            .select(F.col(id_col).alias("__id"), shingles(text_col, k).alias("__sh"))
        )
    j = (
        candidates.join(sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "__sh_a"), "id_a")
        .join(sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "__sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size(F.array_union("__sh_a", "__sh_b"))
    jacc = inter.cast("double") / F.nullif(union.cast("double"), F.lit(0.0))
    return (
        j.withColumn("jaccard", F.round(jacc, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def near_dup_pairs_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: candidates → exact-Jaccard verify.

    The candidate pair set is materialized (memory-and-disk persist) at the
    stage boundary: the verify stage references it three times (the touched-doc
    semi-join reduction plus the two pair joins), and without materialization
    each reference would re-run the whole LSH self-join. Candidates are tiny by
    construction — banding keeps them ~linear in the true near-dup count — so
    this is the cheap side of the trade at any scale; production dedup
    pipelines write this boundary out for the same reason.
    """
    with held() as h:
        cands = h.keep(near_dup_candidates(
            df, id_col, text_col, k=k, num_hashes=num_hashes, bands=bands,
            seed=seed, shingles_df=shingles_df,
        ))
        cands.count()  # the three verify-stage reads hit the cache
        return jaccard_verify(
            df, cands, id_col, text_col, k=k, threshold=threshold,
            shingles_df=shingles_df,
        ).localCheckpoint()


def drop_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold: float = 0.8,
    **lsh_kwargs,
) -> DataFrame:
    """Keep-first near-dup removal: drop any row that has a verified near-dup
    with a smaller id (greedy single-pass survivor rule — the standard
    large-scale choice; full transitive closure needs iterative connected
    components, out of scope for one pass)."""
    pairs = near_dup_pairs_minhash(df, id_col, text_col, k=k, threshold=threshold, **lsh_kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def _components_local(raw: DataFrame) -> DataFrame:
    """Driver-side union-find over a collected edge list.

    Union rule: always attach the LARGER root under the smaller, so by
    induction every root is the minimum id of its set — identical semantics
    to the distributed min-label propagation. Path compression keeps finds
    near-constant; a million edges resolve in well under a second.
    """
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in raw.collect():
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    id_type = raw.schema["src"].dataType
    schema = StructType(
        [
            StructField("id", id_type, False),
            StructField("component_id", id_type, False),
        ]
    )
    out = [(x, find(x)) for x in parent]
    return raw.sparkSession.createDataFrame(out, schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    max_iter: int = 20,
    local_edge_limit: int = 1_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair list → ``(id, component_id)``
    with ``component_id`` = the smallest id in the component.

    This upgrades the greedy keep-first survivor rule to full transitive
    closure (A~B, B~C ⇒ {A,B,C} one cluster even if A,C never paired) — the
    semantics most dedup policies actually want ("keep one per cluster").

    Hybrid strategy, size-guarded like the IVF fit and the broadcast joins:

    - ``≤ local_edge_limit`` distinct edges → collect and union-find on the
      driver (``_components_local``). The verified near-dup pair list is
      orders of magnitude sparser than the corpus (it is the OUTPUT of the
      LSH+verify funnel, not the input), so even a 100 TB corpus typically
      yields an edge list in the thousands-to-millions — a bounded, tens-of-MB
      collect, same justification as the 4096-row IVF fit sample. This
      replaces ~10 sequential Spark jobs with one collect: 8.5s → <1s on the
      bench.
    - larger → iterative min-label propagation, fully distributed: every node
      starts labeled with its own id; each round every node takes the min of
      its label and its neighbors' labels; fixpoint in O(cluster diameter)
      rounds (``max_iter`` bounds the worst case). Each round is one shuffle
      join on the edge list, ``localCheckpoint``-ed to cut lineage growth.
      Convergence is a per-step changed-label flag summed in one cheap
      aggregate — type-agnostic (string ids work; a label-sum check would
      need numeric ids and NULLs out under ANSI mode), and checking only the
      SECOND of two fused steps is sound: if the second application changed
      nothing, its input was already a fixpoint. The label frame is 2 longs
      per touched doc, so this path iterates over gigabytes, not terabytes.

    ``local_edge_limit=0`` forces the distributed path (used by tests).

    Oracle-checkable: DuckDB expresses the same closure with WITH RECURSIVE
    (see ``cc1_components_documents`` in queryset_nstar).
    """
    from agent_data_wrangler_spark.operators.joins import _fits_broadcast

    raw = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        # NULL ids are dropped, not clustered: the driver union-find would
        # crash ranking None against real ids, and the distributed path
        # would mint a phantom "null" node joining otherwise-separate
        # components through every null-bearing pair.
        .na.drop()
        .distinct()
        .localCheckpoint()
    )
    if 0 < local_edge_limit and raw.count() <= local_edge_limit:
        return _components_local(raw)

    edges = (
        raw.unionByName(raw.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint()
    )

    def _hint(df: DataFrame) -> DataFrame:
        # The label frame is bounded by the touched-doc count (orders smaller
        # than the corpus), so it USUALLY fits a broadcast — which removes two
        # shuffles per round, leaving only the groupBy. But a pathological
        # graph can outgrow the threshold, and a forced broadcast of a too-big
        # frame is a driver OOM at scale: size-guard the hint and degrade to
        # shuffle joins (same answer, more exchanges).
        return F.broadcast(df) if _fits_broadcast(df) else df

    def step(lbl: DataFrame) -> DataFrame:
        lbl = lbl.select("id", "comp")
        prop = (
            edges.join(_hint(lbl), edges["src"] == lbl["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("comp").alias("__nb_min"))
        )
        return lbl.join(_hint(prop), "id", "left").select(
            "id",
            F.least("comp", "__nb_min").alias("comp"),
            F.when(F.col("__nb_min") < F.col("comp"), 1).otherwise(0).alias("__chg"),
        )

    converged = False
    for _ in range(max_iter):
        # Two propagation rounds per convergence check: the check costs an
        # action + checkpoint, fusing halves that fixed cost while the fused
        # plan stays shallow.
        labels = step(step(labels)).localCheckpoint()
        if not labels.agg(F.sum("__chg")).first()[0]:
            converged = True
            break
    if not converged:
        # Partial labels are WRONG answers (downstream keep-one-per-cluster
        # would keep extra survivors) — never return them silently.
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            f"iterations ({2 * max_iter} propagation rounds); the graph's "
            "cluster diameter exceeds the bound — raise max_iter"
        )
    return labels.select("id", F.col("comp").alias("component_id"))


def drop_near_duplicates_clustered(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold: float = 0.8,
    **lsh_kwargs,
) -> DataFrame:
    """Cluster-aware near-dup removal: keep the smallest-id doc per connected
    component of the verified near-dup graph (transitive closure, unlike the
    greedy ``drop_near_duplicates``)."""
    pairs = near_dup_pairs_minhash(df, id_col, text_col, k=k, threshold=threshold, **lsh_kwargs)
    comps = connected_components(pairs)
    losers = comps.filter(F.col("id") != F.col("component_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def near_dup_pairs_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard pairs via a shingle inverted index (no MinHash).

    Plan: explode distinct shingles → (optional) drop shingles whose document
    frequency exceeds ``max_shingle_df`` (stop-shingle prefix filter — the
    fan-out killer at scale) → self-join on shingle → count common shingles
    per pair → J = common / (|A| + |B| - common). One shuffle on the shingle
    string, one on the pair. Oracle-checkable: DuckDB expresses the identical
    computation with unnest + join (see queryset_nstar).

    Both self-join branches are the SAME canonical subtree (renames happen
    after the join, not before): Catalyst canonicalizes the two shuffle
    exchanges as equal and plans a ReusedExchange, so the shingle pipeline —
    the CPU-heavy half of the query — is computed and shuffled exactly once.
    The join also carries a length-compatibility prune: J(A,B) >= t implies
    min(|A|,|B|) >= t * max(|A|,|B|), so incompatible pairs drop before the
    pair-count aggregation (the classic length filter from prefix-filtering
    literature; a necessary condition, hence exact).

    Output: (id_a, id_b, jaccard) for pairs with J >= threshold.
    """
    if shingles_df is not None:
        # Shared-stage path: __sh is a materialized (persisted) column, so
        # referencing it twice reads cached data — the named-column Generate
        # caveat below is about re-deriving an expression tree, not reads.
        exploded = shingles_df.select(
            "__id", F.size("__sh").alias("__n"), F.explode("__sh").alias("__s")
        )
    else:
        # Explode the shingle expression DIRECTLY (no intermediate named array
        # column — that de-optimizes Generate, ~8x slower), carrying the
        # per-doc shingle count alongside each element via a single-evaluation
        # struct: the array is bound once to a lambda variable, so neither |A|
        # nor the elements re-derive the shingle tree.
        sh_expr = shingles(text_col, k)
        with_n = F.flatten(
            F.transform(
                F.array(sh_expr),
                lambda arr: F.transform(
                    arr, lambda s: F.struct(s.alias("s"), F.size(arr).alias("n"))
                ),
            )
        )
        exploded = widen_scan(df).select(
            F.col(id_col).alias("__id"),
            F.explode(with_n).alias("__e"),
        ).select("__id", F.col("__e.n").alias("__n"), F.col("__e.s").alias("__s"))
    if max_shingle_df is not None:
        keep = (
            exploded.groupBy("__s")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_shingle_df)
            .select("__s")
        )
        exploded = exploded.join(keep, "__s")
    a, b = exploded.alias("a"), exploded.alias("b")
    na, nb = F.col("a.__n"), F.col("b.__n")
    common = (
        a.join(
            b,
            (F.col("a.__s") == F.col("b.__s"))
            & (F.col("a.__id") < F.col("b.__id"))
            & (F.least(na, nb) >= F.lit(threshold) * F.greatest(na, nb)),
        )
        .groupBy(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            na.alias("__na"),
            nb.alias("__nb"),
        )
        .agg(F.count(F.lit(1)).alias("__common"))
    )
    jacc = F.col("__common").cast("double") / (
        F.col("__na") + F.col("__nb") - F.col("__common")
    ).cast("double")
    return (
        common.withColumn("jaccard", F.round(jacc, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(col: Column | str, bits: int = 63) -> Column:
    """SimHash (up to 63 bits) of the whitespace tokens.

    Each token is hashed ONCE to a 63-bit value (two 32/31-bit halves of its
    md5, recombined — md5 keeps the hash engine-portable); simhash bit j is
    set iff the sum over tokens of (+1 if token-bit j else -1) is positive.
    Pure Column expressions; near-dups = small ``hamming_distance``.

    63 (not 64) bits so the recombined value stays inside a signed int64
    under ANSI mode.
    """
    if not 1 <= bits <= 63:
        raise ValueError("bits must be in [1, 63]")
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(F.lower(c))

    # md5 evaluated ONCE per token via a staged transform — referencing
    # F.md5(t) twice inside one lambda body re-hashes every token (no CSE
    # inside lambda bodies; measured ~8% of the whole simhash pass).
    hexes = F.transform(toks, F.md5)
    hashed = F.transform(
        hexes,
        lambda x: F.conv(F.substring(x, 1, 8), 16, 10).cast("bigint")
        * F.lit(2**31)
        + F.pmod(F.conv(F.substring(x, 9, 8), 16, 10).cast("bigint"), F.lit(2**31)),
    )
    # Single fold with an array<bigint> vote accumulator (one md5 per token;
    # per-bit folds would re-hash every token `bits` times — no cross-
    # expression CSE). Bit tests use bitwiseAND against a literal power-of-two
    # table (shiftright needs a Python-int shift, not a lambda variable).
    powers = F.array(*[F.lit(2**j).cast("bigint") for j in range(bits)])
    votes = F.aggregate(
        hashed,
        F.array_repeat(F.lit(0).cast("bigint"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(powers, lambda p: F.when(h.bitwiseAND(p) != 0, F.lit(1)).otherwise(F.lit(-1))),
            lambda a, v: a + v,
        ),
    )
    weighted = F.zip_with(
        votes,
        powers,
        lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("bigint")),
    )
    return F.aggregate(weighted, F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def hamming_distance(a: Column | str, b: Column | str) -> Column:
    """Popcount of XOR — bit_count is a Spark built-in."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


def _bit_permutation(bits: int, seed: int) -> list[int]:
    """Deterministic Fisher-Yates permutation of bit positions (seeded LCG,
    no global RNG — the gen_sf cipher pattern). Shared by
    ``hamming_band_pairs`` and the SQL-twin generators so both engines
    scatter identically."""
    state = seed % (2**31) or 1

    def lcg() -> int:
        nonlocal state
        state = (state * 1103515245 + 12345) % (2**31)
        return state

    perm = list(range(bits))
    for k in range(bits - 1, 0, -1):
        j = lcg() % (k + 1)
        perm[k], perm[j] = perm[j], perm[k]
    return perm


def hamming_band_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    *,
    bits: int = 63,
    bands: int = 4,
    max_dist: int | None = None,
    scatter_seed: int | None = None,
) -> DataFrame:
    """Near-dup pairs over ANY int64 fingerprint column (simhash, image
    phash, audio fingerprint): ``(id_a, id_b, dist)``.

    LSH-style bit-slice banding: the ``bits``-bit hash splits into
    ``bands`` contiguous slices; two rows are candidates iff SOME slice
    matches exactly (pigeonhole: every pair with hamming distance
    ``< bands`` shares at least one untouched slice, so recall is TOTAL
    for ``max_dist <= bands - 1`` and decays gracefully above). Candidates
    are verified with the exact popcount; ``max_dist=None`` returns all
    candidates with their distances.

    Scale: the self-join moves only fixed-width ``(band_idx int, band_val
    bigint)`` keys plus two 8-byte hashes — never payloads or text (the n5
    packed-band-key lesson). Work is sum over buckets of |bucket|^2, linear
    while buckets stay bounded; EXACT-duplicate floods (identical hashes)
    are the one quadratic risk, so run exact dedup (n1) upstream first —
    the same ordering RefinedWeb uses (URL/exact dedup before fuzzy).

    ``scatter_seed``: when set, bit POSITIONS are permuted (deterministic
    seeded Fisher-Yates) before slicing into bands. A bit permutation
    preserves hamming distance exactly, so the pigeonhole recall guarantee
    is untouched — but each band becomes a scattered bit sample instead
    of a contiguous window. Fingerprints with LOCALLY-CORRELATED bits
    (dHash gradients of structured content: alternating text patterns, sky
    gradients in photos) collide wholesale on contiguous windows — mm4
    measured 142k candidate pairs over 5100 images contiguous vs 4.3k
    scattered, identical dup recall. md5-derived fingerprints (simhash)
    have uniform bits and don't need it.
    """
    if not 1 <= bands <= bits:
        raise ValueError("bands must be in [1, bits]")
    width = (bits + bands - 1) // bands
    if scatter_seed is not None:
        perm = _bit_permutation(bits, scatter_seed)
        one = F.lit(1).cast("bigint")

        def band_val(b: int) -> Column:
            v = F.lit(0).cast("bigint")
            for j, p in enumerate(perm[b * width : (b + 1) * width]):
                v = v + F.shiftleft(
                    F.shiftright(F.col(hash_col), p).bitwiseAND(one), j
                )
            return v

        vals = F.array(*[band_val(b) for b in range(bands)])
    else:
        mask = F.lit((1 << width) - 1).cast("bigint")
        vals = F.array(
            *[
                F.shiftright(F.col(hash_col), b * width).bitwiseAND(mask)
                for b in range(bands)
            ]
        )
    banded = df.select(
        F.col(id_col).alias("__id"),
        F.col(hash_col).alias("__h"),
        F.posexplode(vals).alias("__b", "__v"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.__b") == F.col("b.__b"))
            & (F.col("a.__v") == F.col("b.__v"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__h").alias("__ha"),
            F.col("b.__h").alias("__hb"),
        )
        .distinct()
        .select(
            "id_a",
            "id_b",
            hamming_distance(F.col("__ha"), F.col("__hb")).alias("dist"),
        )
    )
    if max_dist is not None:
        pairs = pairs.filter(F.col("dist") <= max_dist)
    return pairs


def editdist_block_key(
    text_col: str, *, block_tokens: int = 2, length_band: int = 16
) -> Column:
    """Deterministic record-linkage blocking key: first ``block_tokens``
    tokens + a ``length_band``-wide length band. Shared by the pair join and
    the block-size profile so the two can never use different keys."""
    lowered = F.lower(F.trim(F.col(text_col)))
    parts = [
        F.split_part(lowered, F.lit(" "), F.lit(i + 1)) for i in range(block_tokens)
    ]
    return F.concat_ws(
        ":",
        F.concat_ws(" ", *parts),
        F.floor(F.length(text_col) / length_band).cast("string"),
    )


def blocked_editdist_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_dist: int = 40,
    block_tokens: int = 2,
    length_band: int = 16,
    max_block_size: int | None = None,
    with_metrics: bool = False,
    keep_unverified: bool = False,
):
    """Record-linkage near-dup candidates: a deterministic blocking key
    (leading tokens + length band) restores an equi-join shape, then
    THRESHOLDED Levenshtein within blocks → ``(id_a, id_b, dist)`` with
    ``dist <= max_dist``.

    Complements the shingle/MinHash path: edit distance catches char-level
    corruption (OCR noise, truncation, small insertions) that token shingles
    over-penalize, and it is fully deterministic — no engine hash — so the
    whole pipeline is oracle-checkable. The recall contract is the blocking
    key (pairs must share the leading tokens and the length band) — the
    classic record-linkage trade; widen by unioning additional key functions.

    Scale: the only shuffle is the block-key equi-join; the quadratic term is
    bounded by block size (monitor with profile.key_skew on
    ``editdist_block_key`` — a degenerate block is the same hazard as any
    skewed join key). The ``threshold`` form of ``levenshtein`` banded-early-
    exits the DP at O(max_dist·len) per pair instead of O(len²) — on the
    sf0.1 word-soup corpus that plus 2-token blocking took the stage from
    37s to under a second.

    ``max_block_size`` is the degenerate-block GUARD (same philosophy as
    ``max_shingle_df``): a hot block — every doc sharing the leading tokens
    and length band, e.g. boilerplate — re-creates the quadratic join no
    matter how good the average block is. Blocks over the cap are refined by
    EXACT length (a strictly finer key, so no pair is double-counted across
    the split; cross-length pairs inside a hot block are the documented
    recall narrowing); refined blocks still over the cap are skipped
    entirely. ``with_metrics=True`` additionally returns a 1-row DataFrame
    ``(n_blocks_refined, n_blocks_skipped, n_rows_skipped)`` so pipelines
    can alert on silent coverage loss instead of guessing.

    ``keep_unverified=True`` keeps the candidate pairs whose distance
    exceeded ``max_dist`` (their ``dist`` is the threshold form's ``-1``
    sentinel) instead of filtering them. The join enumerates each in-block
    unordered pair exactly once, so the UNFILTERED row count IS
    ``sum nC2 over blocks`` — callers that need both the candidate volume
    and the near-pair stats (bl1) get them from ONE join instead of paying
    a second corpus scan + block-size aggregate for the count (guide §2.4:
    remove shuffles outright).
    """
    bk = editdist_block_key(
        text_col, block_tokens=block_tokens, length_band=length_band
    )
    b = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"), bk.alias("__bk"))
    refined = skipped = None
    if max_block_size is not None:
        big = (
            b.groupBy("__bk")
            .agg(F.count(F.lit(1)).alias("__bs"))
            .filter(F.col("__bs") > max_block_size)
            .select("__bk", F.lit(True).alias("__big"))
        )
        refined = big.select("__bk")
        # Refine rows of oversized blocks with the exact length (finer key);
        # the join is on the block key — small right side, AQE broadcasts it.
        b = (
            b.join(big, "__bk", "left")
            .withColumn(
                "__bk",
                F.when(
                    F.col("__big"),
                    F.concat_ws("#", F.col("__bk"), F.length("__t").cast("string")),
                ).otherwise(F.col("__bk")),
            )
            .drop("__big")
        )
        still_big = (
            b.groupBy("__bk")
            .agg(F.count(F.lit(1)).alias("__bs"))
            .filter(F.col("__bs") > max_block_size)
            .select("__bk")
        )
        skipped = b.join(still_big, "__bk", "left_semi")
        b = b.join(still_big, "__bk", "left_anti")
    a, c = b.alias("a"), b.alias("b")
    # threshold=-1 sentinel for "beyond max_dist": filter on >= 0 keeps only
    # real distances, so callers never see the sentinel.
    dist = F.levenshtein(F.col("a.__t"), F.col("b.__t"), threshold=max_dist)
    pairs = (
        a.join(c, (F.col("a.__bk") == F.col("b.__bk")) & (F.col("a.__id") < F.col("b.__id")))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            dist.alias("dist"),
        )
    )
    if not keep_unverified:
        pairs = pairs.filter(F.col("dist") >= 0)
    if not with_metrics:
        return pairs
    if max_block_size is None:
        metrics = df.sparkSession.range(1).select(
            F.lit(0).cast("bigint").alias("n_blocks_refined"),
            F.lit(0).cast("bigint").alias("n_blocks_skipped"),
            F.lit(0).cast("bigint").alias("n_rows_skipped"),
        )
    else:
        metrics = (
            refined.agg(F.count(F.lit(1)).cast("bigint").alias("n_blocks_refined"))
            .crossJoin(
                skipped.agg(
                    F.countDistinct("__bk").cast("bigint").alias("n_blocks_skipped"),
                    F.count(F.lit(1)).cast("bigint").alias("n_rows_skipped"),
                )
            )
        )
    return pairs, metrics


def incremental_band_candidates(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    corpus_shingles: DataFrame | None = None,
    batch_shingles: DataFrame | None = None,
) -> DataFrame:
    """Batch-vs-corpus LSH candidate pairs: ``(batch_id, corpus_id)``,
    distinct, NOT verified and NOT persisted (callers persist at the stage
    boundary they need). The candidate half of
    :func:`near_dup_pairs_incremental`, split out so pipelines that already
    materialize an exact pair set (the n12 verdict query) can verify
    candidates with one semi-join against it instead of re-deriving
    per-pair Jaccards through :func:`jaccard_verify`."""
    rows_per_band = num_hashes // bands

    def banded(df: DataFrame, out: str, sh: DataFrame | None) -> DataFrame:
        # Same all-P sentinel (empty-shingle) drop as near_dup_candidates:
        # without it, m_b empty batch docs x m_c empty corpus docs collide
        # in EVERY band (identical sentinel signatures), emitting
        # m_b*m_c*bands join rows the verify stage only later discards —
        # the quadratic blowup fixed for the self-join path applies to the
        # batch x corpus join identically.
        sigs = minhash_signatures(
            df, id_col, text_col, k=k, num_hashes=num_hashes, seed=seed,
            shingles_df=sh,
        ).filter(F.element_at("__sig", 1) < F.lit(_MERSENNE_31))
        keys = F.flatten(
            F.transform(F.array(F.col("__sig")),
                        lambda sig: band_keys(sig, bands, rows_per_band))
        )
        return sigs.select(F.col("__id").alias(out), F.explode(keys).alias("__band"))

    return (
        banded(batch, "batch_id", batch_shingles)
        .join(banded(corpus, "corpus_id", corpus_shingles), "__band")
        .select("batch_id", "corpus_id")
        .distinct()
    )


def near_dup_pairs_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
    corpus_shingles: DataFrame | None = None,
    batch_shingles: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup: LSH pairs between a NEW batch and an EXISTING
    corpus only — never corpus x corpus.

    This is the shape a 100 TB ingestion pipeline actually runs: the corpus
    was deduped once; each day's batch must be checked against it (and
    against itself via :func:`near_dup_pairs_minhash`) without re-pairing
    the whole corpus. The batch-vs-corpus band join costs
    O(|batch| x bands) probe rows against the corpus's bucketed signatures;
    re-running the self-join would cost O(|corpus| x bands) — at 100 TB the
    difference is the feature. In production the corpus side's banded
    signatures are written once (a serving layout, like ``write_lsh_bucketed``
    for ANN) and only the batch side is computed per run.

    Output: ``(batch_id, corpus_id, jaccard)`` with exact-Jaccard >= threshold
    (same two-stage candidates -> verify funnel as the self-join variant; the
    shuffle carries packed fixed-width band-key structs (see
    :func:`band_keys`) and doc ids, never text).
    """
    with held() as h:
        cands = h.keep(incremental_band_candidates(
            corpus, batch, id_col, text_col, k=k, num_hashes=num_hashes,
            bands=bands, seed=seed, corpus_shingles=corpus_shingles,
            batch_shingles=batch_shingles,
        ))
        cands.count()  # materialize: verify references it several times
        # Verify via the SHARED exact-Jaccard funnel (one copy of the
        # rounding / shingle-distinct semantics the oracles mirror):
        # canonicalize pairs to jaccard_verify's id_a < id_b convention over
        # the unioned frame, then map survivors back to their sides.
        # Requires ids disjoint across the two frames (the incremental
        # contract: corpus and batch share an id space but never an id).
        # The result reads the kept candidates, so it is checkpointed.
        both = batch.select(id_col, text_col).unionByName(
            corpus.select(id_col, text_col)
        )
        canon = cands.select(
            F.least("batch_id", "corpus_id").alias("id_a"),
            F.greatest("batch_id", "corpus_id").alias("id_b"),
            "batch_id", "corpus_id",
        )
        both_sh = (
            batch_shingles.unionByName(corpus_shingles)
            if batch_shingles is not None and corpus_shingles is not None
            else None
        )
        verified = jaccard_verify(
            both, canon.select("id_a", "id_b").distinct(), id_col, text_col,
            k=k, threshold=threshold, shingles_df=both_sh,
        )
        return verified.join(canon, ["id_a", "id_b"]).select(
            "batch_id", "corpus_id", "jaccard"
        ).localCheckpoint()


def near_dup_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold: float = 0.6,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard pairs via GLOBAL-ORDER PREFIX FILTERING — the
    All-Pairs / PPJoin candidate strategy (Bayardo et al. WWW'07; Xiao et
    al. WWW'08, Lemma 1), the third exact engine beside the full inverted
    index (:func:`near_dup_pairs_exact`) and MinHash-LSH (approximate).

    Principle: order every doc's shingle set by a single global total order
    (here: document frequency ascending, shingle ascending — rarest first).
    If J(A, B) >= t then |A∩B| >= ceil(t·|A|) (because |∪| >= |A|), so the
    intersection cannot fit inside A's last ceil(t·|A|)−1 shingles: the
    first |A| − ceil(t·|A|) + 1 shingles of A must contain a common element,
    and symmetrically for B — the PREFIXES must share a shingle. Joining
    only prefixes is therefore COMPLETE; the exact-Jaccard verify stage
    (shared :func:`jaccard_verify`) makes it sound. This implementation uses
    the slightly longer prefix |A| − floor(t·|A|) + 1 (floor <= ceil) so
    float noise in t·|A| can only lengthen a prefix, never break the bound.

    Scale vs the full inverted index: the candidate self-join shuffles only
    prefix occurrences — the RAREST ~(1−t) fraction of each doc's shingles —
    so hot shingles (the skew and fan-out killers) are excluded from join
    keys by construction instead of by a lossy ``max_shingle_df`` cap.
    Measured on sf0.1 documents at t=0.6: 1.13M candidate pairs through the
    full inverted join vs ~200k through prefixes (5.6x; the synthetic corpus
    is tiny-vocab, so even rare shingles are shared — on a real web-scale
    vocabulary the prefix cut is far larger), and the POSITIONAL filter
    (see inline comment) drops those ~3x again before the
    dominant exact-verify join — identical final pairs at every stage.

    The ENTIRE candidate path runs on ``xxhash64`` shingle keys, never the
    shingle strings (the n5 packed-band-key lesson, applied here in r13
    after lk1's sf30 probe spilled the string exchanges past the local
    disk): every shuffle — df count, df join, prefix rebuild, candidate
    self-join — moves 8-byte hashes instead of ~25-byte k-gram text, and
    the global prefix order becomes (df, hash), which is just as valid a
    total order as (df, string). Completeness is untouched: equal shingles
    always share a hash, so a qualifying pair's shared prefix element
    still joins; a 64-bit collision between DISTINCT shingles can only
    merge two inverted lists — adding spurious candidates (the exact
    STRING-level verify rejects them) and perturbing two df counts, never
    hiding a true pair. Shuffles: two on hash (df count/join), one on doc
    id (prefix rebuild), one on prefix hash (candidates), then the verify
    joins on doc id — no exchange carries shingle text, let alone
    document text.

    Output: (id_a, id_b, jaccard) with J >= threshold — identical to
    :func:`near_dup_pairs_exact` at the same (k, threshold).
    """
    sh = (
        shingles_df
        if shingles_df is not None
        else shingle_frame(df, id_col, text_col, k=k)
    )
    ex = sh.select(
        "__id", F.size("__sh").alias("__n"), F.explode("__sh").alias("__s")
    ).select("__id", "__n", F.xxhash64("__s").alias("__h"))
    dfc = ex.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    # Rebuild each doc's shingle list sorted by the global (df, hash)
    # order, then keep the prefix. collect_list is bounded by the doc's own
    # shingle count — the same per-row bound as the source array itself.
    prefix_len = (
        F.col("__n") - F.floor(F.lit(threshold) * F.col("__n")) + F.lit(1)
    ).cast("int")
    with held() as h:
        # r14-opt: (a) the per-doc rebuild (groupBy + sort_array(collect_list)
        # + posexplode) is CPU-dense per shuffle byte, and AQE's size-based
        # coalescing folded it to 2 tasks — pin the groupBy's partitioning
        # with an explicit numbered repartition on the doc id (exempt from
        # coalescing; the sd2 lesson). (b) BOTH candidate join sides read
        # ``pref``, and the stage profile showed the whole rebuild executing
        # TWICE (the a/b selects canonicalize differently, so no exchange
        # reuse) — persist the prefix frame, which is the ~(1−t) RAREST
        # fraction of shingle occurrences, i.e. strictly smaller than the
        # shingle frame callers already persist for this pipeline; released
        # below the moment the candidate set is materialized.
        target = df.sparkSession.sparkContext.defaultParallelism
        pref = h.keep(
            ex.join(dfc, "__h")
            .repartition(target, "__id")
            .groupBy("__id", "__n")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct(F.col("__df"), F.col("__h")))
                ).alias("__o")
            )
            .select(
                "__id",
                "__n",
                # posexplode: __p is the shingle's 1-based POSITION in the
                # doc's full global-order sorted list (the slice starts at 1,
                # so slice index == list index) — the input to the PPJoin
                # positional filter below.
                F.posexplode(F.slice("__o", F.lit(1), prefix_len)).alias(
                    "__p0", "__e"
                ),
            )
            .select(
                "__id",
                "__n",
                (F.col("__p0") + F.lit(1)).alias("__p"),
                F.col("__e.__h").alias("__h"),
            )
        )
        a = pref.select(
            F.col("__id").alias("id_a"),
            F.col("__n").alias("__na"),
            F.col("__p").alias("__pa"),
            "__h",
        )
        b = pref.select(
            F.col("__id").alias("id_b"),
            F.col("__n").alias("__nb"),
            F.col("__p").alias("__pb"),
            "__h",
        )
        # POSITIONAL filter (PPJoin, Xiao et al. WWW'08 Lemma 2, bulk form):
        # J >= t  <=>  |A∩B| >= α = t/(1+t)·(|A|+|B|). Per candidate pair let
        # o = number of shared PREFIX shingles, (ia, jb) = positions of the
        # order-MAXIMAL shared prefix shingle. Every shared shingle ordered
        # below that one lies in BOTH prefixes (positions are consistent with
        # the global order), so it is counted in o exactly; every shared
        # shingle above it sits past position ia in A and jb in B. Hence
        # |A∩B| <= o + min(|A|−ia, |B|−jb), and pairs whose bound misses α
        # can never verify — dropped before the (dominant) exact-Jaccard
        # verify join ever sees them. max(__pa)/max(__pb) both belong to that
        # same maximal shingle, again by order-consistency of positions. The
        # 1e-9 slack keeps float noise in t/(1+t)·(n_a+n_b) from dropping a
        # boundary pair — a loose α only admits candidates verify will reject.
        alpha = (
            F.lit(threshold) / F.lit(1.0 + threshold)
            * (F.col("__na") + F.col("__nb")) - F.lit(1e-9)
        )
        cand = h.keep(
            a.join(
                b,
                (a["__h"] == b["__h"])
                & (F.col("id_a") < F.col("id_b"))
                # Length filter: J >= t implies min(|A|,|B|) >= t·max(|A|,|B|).
                & (
                    F.least("__na", "__nb")
                    >= F.lit(threshold) * F.greatest("__na", "__nb")
                ),
            )
            .groupBy("id_a", "id_b", "__na", "__nb")
            .agg(
                F.count(F.lit(1)).alias("__o"),
                F.max("__pa").alias("__ia"),
                F.max("__pb").alias("__jb"),
            )
            .filter(
                F.col("__o")
                + F.least(
                    F.col("__na") - F.col("__ia"), F.col("__nb") - F.col("__jb")
                )
                >= alpha
            )
            .select("id_a", "id_b")
        )
        # Same stage-boundary materialization as the minhash/exact paths:
        # the verify stage reads the candidate frame three times, and
        # without it the df-count + sort + prefix self-join all re-run per
        # read (measured 3x on ss1).
        cand.count()
        # The candidate set is materialized — the prefix frame has served
        # both join sides and is released before the verify stage runs.
        h.drop(pref)
        verified = jaccard_verify(
            df, cand, id_col, text_col, k=k, threshold=threshold, shingles_df=sh
        )
        # Consumers get a flat checkpointed scan, so callers that passed a
        # kept ``shingles_df`` can release it as soon as this returns.
        return verified.localCheckpoint()


def repeated_ngram_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated n-gram SPAN detection — the substring-level
    complement to the document-level dedup family (n1/n4/n5): find every
    token position covered by an n-gram that also occurs in ``min_docs - 1``
    other documents, and merge the hits into maximal contiguous spans per
    document (the regions exact-substring dedup would cut — Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", which uses
    suffix arrays; the n-gram/rolling-hash formulation is the standard
    distributed approximation: a repeat of length >= n is found exactly, as
    the union of its overlapping n-gram hits).

    Returns one row per document that has at least one repeated span:
    ``(id_col, n_spans, repeated_tokens, total_tokens, repeat_frac)``.

    Plan shape / 100 TB notes:
    - positional n-grams are built from the bound-once token array (the
      shingles() CSE lesson) and keyed by md5 — FIXED-WIDTH group/join keys
      so the gram shuffle never moves raw text (the n5 packed-band-key
      lesson); md5 (not xxhash64) keeps the key reproducible in ANSI-SQL
      oracles.
    - "appears in >= 2 distinct docs" is computed as min(id) != max(id) —
      two cheap extremal aggregates instead of a count-distinct state.
    - span merging is a per-document gaps-and-islands window (running max
      of span-end over preceding hits); partitions are bounded by document
      token count, so the window never sees more than one doc's hits.
    - total shuffles: gram aggregate, hit semi-join back, per-doc window +
      final per-doc aggregate (doc-keyed, combine-friendly).
    - the positional-gram pipeline is deliberately DERIVED TWICE (once under
      the repeated-gram aggregate, once as the hit probe side) instead of
      persisted: the gram frame is corpus-sized (one row per token
      position), so at 100 TB it cannot be cached, while the re-derivation
      is a second scan-stage pass that AQE/whole-stage-codegen keep cheap.
      The aggregate side reduces to the tiny repeated-gh frame before any
      join, so only fixed-width keys ever move twice.
    """
    from pyspark.sql import Window

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_docs < 2:
        # cross-document repetition is only defined for >= 2 distinct docs;
        # the min!=max fast path below implements exactly that, so a
        # min_docs=1 request would silently mean 2 — reject it instead.
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    # r14-opt: the positional-gram pipeline (tokenize + per-position md5) is
    # pure per-row CPU and is derived TWICE (aggregate side + probe side);
    # on a one-split local file both passes ran inside single-task scan
    # stages (stage-profiled 2.1 s + 1.3 s). widen_scan floors the scan
    # parallelism at cores — no-op at real scale — and both derivations
    # reuse the one spread exchange. All downstream aggregates are exact
    # (md5 keys, integer min/max/count), so partitioning cannot perturb
    # results.
    t = (
        widen_scan(df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t")))
        .select("__id", tokens(F.lower(F.col("__t"))).alias("__toks"))
        .select("__id", "__toks", F.size("__toks").alias("__nt"))
        .filter(F.col("__nt") >= n)
    )
    g = t.select(
        "__id",
        "__nt",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("__nt") - n),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(F.concat_ws(" ", F.slice("__toks", i + 1, n))).alias("gh"),
                ),
            )
        ).alias("__g"),
    ).select("__id", "__nt", F.col("__g.pos").alias("__pos"), F.col("__g.gh").alias("__gh"))
    if min_docs > 2:
        rep = (
            g.groupBy("__gh")
            .agg(F.count_distinct("__id").alias("__nd"))
            .filter(F.col("__nd") >= min_docs)
            .select("__gh")
        )
    else:
        # min(id) != max(id)  <=>  the gram occurs in >= 2 distinct docs —
        # extremal aggregates are partial-combine-friendly, no distinct state.
        rep = (
            g.groupBy("__gh")
            .agg(F.min("__id").alias("__lo"), F.max("__id").alias("__hi"))
            .filter(F.col("__lo") != F.col("__hi"))
            .select("__gh")
        )
    hits = g.join(rep, "__gh").select("__id", "__nt", "__pos")
    w_prev = Window.partitionBy("__id").orderBy("__pos").rowsBetween(Window.unboundedPreceding, -1)
    w_run = Window.partitionBy("__id").orderBy("__pos").rowsBetween(Window.unboundedPreceding, 0)
    brk = F.when(
        F.col("__pos")
        > F.coalesce(F.max(F.col("__pos") + F.lit(n - 1)).over(w_prev), F.lit(-1)) + 1,
        F.lit(1),
    ).otherwise(F.lit(0))
    islands = hits.withColumn("__brk", brk).withColumn("__isl", F.sum("__brk").over(w_run))
    spans = islands.groupBy("__id", "__isl").agg(
        F.min("__pos").alias("__s"),
        (F.max("__pos") + F.lit(n - 1)).alias("__e"),
        F.first("__nt").alias("__doc_nt"),
    )
    out = (
        spans.groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum(F.col("__e") - F.col("__s") + 1).cast("bigint").alias("repeated_tokens"),
            F.first("__doc_nt").cast("bigint").alias("total_tokens"),
        )
        .withColumn(
            "repeat_frac",
            F.round(F.col("repeated_tokens") / F.col("total_tokens"), 6),
        )
    )
    return out.withColumnRenamed("__id", id_col)
