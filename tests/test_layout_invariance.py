"""Layout invariance of the ``widen_scan`` users: ``sources.readers.
widen_scan`` repartitions a small scan up to the session's core count, so
these queries' partitioning follows the machine. Their output must not:
each query's sorted rows hash the same on ``local[1]`` with 3 shuffle
partitions (a child process) as on the in-process ``local[4]`` session."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WIDEN_QUERIES = (
    # registry queries that call widen_scan themselves
    "xm1_xml_roundtrip_events",
    "n6_simhash_documents",
    "n8_embedding_neardup_pairs",
    "gq1_repetition_quality_documents",
    "rh1_winnow_fingerprints_documents",
    "pm1_pmi_collocations_documents",
    "bm1_bm25_rank_documents",
    "px1_bigram_xent_documents",
    "fw1_web_pipeline_funnel_documents",
    "li1_language_id_documents",
    # queries whose dedup operators widen the scan (shingle_frame, the
    # exact inverted-index pairs, repeated n-gram spans)
    "n4_jaccard_pairs_documents",
    "n5_minhash_neardup_documents",
    "cc1_components_documents",
    "n12_incremental_neardup_documents",
    "dd1_crossmodal_neardup_audit",
    "ss1_prefix_jaccard_documents",
    "lk1_split_leakage_documents",
    "rs1_repeated_ngram_spans_documents",
)

_CHILD = """
import json, sys
sys.path.insert(0, sys.argv[3])
from test_layout_invariance import row_hashes
from agent_data_wrangler_spark.session import get_spark
spark = get_spark(app_name="adw-layout", master="local[1]", extra_conf={
    "spark.sql.shuffle.partitions": "3", "spark.ui.enabled": "false",
    "spark.driver.memory": "1g"})
spark.sparkContext.setLogLevel("ERROR")
print(json.dumps(row_hashes(spark, sys.argv[1], json.loads(sys.argv[2]))))
"""


def row_hashes(spark, sf_dir: str, names) -> dict[str, str]:
    from __spark_entry__ import queries

    q = queries()
    out = {}
    for name in names:
        rows = sorted(repr(tuple(r)) for r in q[name](spark, sf_dir).collect())
        out[name] = hashlib.md5(repr(rows).encode()).hexdigest()
    return out


def test_widen_scan_users_are_layout_invariant(spark, sf_dir):
    assert spark.sparkContext.defaultParallelism == 4
    child = subprocess.run(
        [sys.executable, "-c", _CHILD, sf_dir, json.dumps(WIDEN_QUERIES),
         os.path.dirname(os.path.abspath(__file__))],
        cwd=REPO, env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True, text=True, timeout=900,
    )
    assert child.returncode == 0, child.stderr[-3000:]
    narrow = json.loads(child.stdout.strip().splitlines()[-1])
    wide = row_hashes(spark, sf_dir, WIDEN_QUERIES)
    differ = sorted(n for n in WIDEN_QUERIES if narrow[n] != wide[n])
    assert not differ, f"output depends on the session layout: {differ}"
