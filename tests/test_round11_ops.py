"""Round-11 additions: IVF layout freshness stats + audit (ix1 surface).

The sd1/ix1 QUERY semantics are pinned by tests/test_oracle_parity.py (both
have full DuckDB oracles); these units pin the operator-level contracts the
oracles cannot see — sidecar stat content, append-merge arithmetic, and each
tamper failure mode in isolation.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from agent_data_wrangler_spark.operators import similarity


def _vecs(spark, ids, dim=8, shift=0.0):
    rows = [
        (i, [float((i * 7 + j * 3) % 11) / 11.0 + shift for j in range(dim)])
        for i in ids
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture()
def layout(spark, tmp_path):
    path = str(tmp_path / "ivf")
    df = _vecs(spark, range(40))
    similarity.write_ivf_partitioned(df, "embedding", path, n_lists=4)
    return path, df


def test_ivf_meta_carries_list_stats(spark, layout):
    path, df = layout
    meta = similarity.read_index_meta(path)
    assert meta["checksum_cols"] == ["vec_id", "embedding"]
    stats = meta["list_stats"]
    assert sum(n for n, _ in stats.values()) == 40
    # every partition directory on disk has a stats row and vice versa
    dirs = {d.split("=", 1)[1] for d in os.listdir(path) if d.startswith("__list=")}
    assert dirs == set(stats)


def test_audit_green_on_fresh_layout(spark, layout):
    path, df = layout
    rep = similarity.audit_ivf_layout(spark, path, df, id_col="vec_id")
    assert rep == {
        "n_source": 40, "n_indexed": 40, "n_missing": 0, "n_orphaned": 0,
        "stats_ok": True, "fresh_ok": True,
    }


def test_append_merges_list_stats(spark, layout):
    path, df = layout
    delta = _vecs(spark, range(100, 115))
    assert similarity.append_ivf_partitioned(delta, "embedding", path) == 15
    rep = similarity.audit_ivf_layout(
        spark, path, df.unionByName(delta), id_col="vec_id"
    )
    assert rep["n_indexed"] == 55
    assert rep["stats_ok"] is True and rep["fresh_ok"] is True


def test_append_schema_subset_delta_keeps_stats_consistent(spark, tmp_path):
    """A delta batch missing a non-key column is legal parquet (the column
    reads back as NULL under the merged schema); the appended stats must be
    computed the way the audit later re-reads those rows, or every
    subset-schema append would permanently poison the sidecar. Regression:
    r11's first stats cut resolved meta checksum_cols against the RAW delta
    frame and raised UNRESOLVED_COLUMN."""
    path = str(tmp_path / "ivf_subset")
    base = _vecs(spark, range(40)).withColumn("label", F.lit("b"))
    similarity.write_ivf_partitioned(base, "embedding", path, n_lists=4)
    delta = _vecs(spark, range(100, 110))  # no label column
    assert similarity.append_ivf_partitioned(delta, "embedding", path) == 10
    merged_src = base.unionByName(
        delta.withColumn("label", F.lit(None).cast("string"))
    )
    rep = similarity.audit_ivf_layout(spark, path, merged_src, id_col="vec_id")
    assert rep["n_indexed"] == 50
    assert rep["stats_ok"] is True and rep["fresh_ok"] is True
    # The SERVING path must also survive the subset append: the probe reads
    # with the sidecar's write-time schema, so asking for the column the
    # delta lacks works deterministically (NULL for delta rows) regardless
    # of which file single-footer inference would have picked.
    qv = [float((0 * 7 + j * 3) % 11) / 11.0 for j in range(8)]
    probed = similarity.topk_cosine_ivf_pruned(
        spark, path, "embedding", qv, k=50,
        nprobe=4, payload_cols=["vec_id", "label"],
    )
    got = {r["vec_id"]: r["label"] for r in probed.collect()}
    assert any(v >= 100 and got[v] is None for v in got)   # delta rows served
    assert any(v < 40 and got[v] == "b" for v in got)      # base rows keep label


def test_audit_detects_lost_partition(spark, layout):
    path, df = layout
    victim = sorted(
        d for d in os.listdir(path) if d.startswith("__list=")
    )[0]
    shutil.rmtree(os.path.join(path, victim))
    rep = similarity.audit_ivf_layout(spark, path, df, id_col="vec_id")
    assert rep["n_missing"] > 0
    assert rep["stats_ok"] is False
    assert rep["fresh_ok"] is False


def test_audit_detects_orphaned_rows(spark, layout):
    """Rows deleted at the source but still served by the layout."""
    path, df = layout
    shrunk = df.filter(F.col("vec_id") < 30)
    rep = similarity.audit_ivf_layout(spark, path, shrunk, id_col="vec_id")
    assert rep["n_orphaned"] == 10
    assert rep["n_missing"] == 0
    assert rep["fresh_ok"] is False


def test_audit_detects_in_place_rewrite(spark, layout):
    """Same row count, different content: only the xor checksum catches a
    parquet file rewritten in place (the count legs all still match when the
    source comparison uses ids only)."""
    path, df = layout
    victim_dir = sorted(
        d for d in os.listdir(path) if d.startswith("__list=")
    )[0]
    lid = int(victim_dir.split("=", 1)[1])
    part = spark.read.parquet(os.path.join(path, victim_dir))
    rewritten = part.withColumn(
        "embedding",
        F.transform("embedding", lambda x: (x + F.lit(1.0)).cast("float")),
    )
    staged = os.path.join(path, "..", "rewrite_stage")
    rewritten.write.mode("overwrite").parquet(staged)
    shutil.rmtree(os.path.join(path, victim_dir))
    os.makedirs(os.path.join(path, victim_dir))
    for f in os.listdir(staged):
        if f.endswith(".parquet"):
            shutil.copy(
                os.path.join(staged, f), os.path.join(path, victim_dir, f)
            )
    rep = similarity.audit_ivf_layout(spark, path, df, id_col="vec_id")
    assert rep["n_indexed"] == 40          # counts alone see nothing
    assert rep["stats_ok"] is False        # the checksum does
    assert rep["fresh_ok"] is False
    assert lid >= 0


def test_audit_without_stats_sidecar(spark, layout):
    """Layouts written before the stats sidecar: coverage legs still work,
    stats_ok degrades to None (unknown) without failing the audit."""
    import json

    path, df = layout
    meta_path = os.path.join(path, "_ann_index_meta.json")
    with open(meta_path, encoding="utf-8") as fh:
        meta = json.load(fh)
    meta.pop("list_stats")
    meta.pop("checksum_cols")
    with open(meta_path, "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    rep = similarity.audit_ivf_layout(spark, path, df, id_col="vec_id")
    assert rep["stats_ok"] is None
    assert rep["fresh_ok"] is True
