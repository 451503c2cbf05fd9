"""Round-9 NULL-id probe for the embeddings family: NULL vec_id and NULL
label injected into the embeddings table (the r7/r8 vector families
poisoned the VECTORS — NULL/ragged frames, NaN/Inf/NULL components — but
never the key columns), with every embeddings-reading entry re-verified
against its oracle on the poisoned corpus.

Expected mechanics, now pinned instead of assumed:

- ANN pair joins (`qid != nid`) and the consecutive-pair equi-join drop
  NULL-id rows identically in both engines (a NULL comparison is never
  TRUE), so NULL-id vectors silently leave the candidate space — the
  same construction on both sides.
- Query/centroid stride selection (`vec_id % stride == 0`) is NULL-safe
  consistent: NULL % k is NULL, not selected, in both engines.
- GROUP BY label retains the NULL-label group in both engines; the
  final sorts are asc_nulls_last (round-9 ordering sweep) so the group
  lands in the same row position.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from polario_spark.sources.tables import TABLES

CLEAN_SF = "/root/testdata/sf0.001"

AFFECTED = [
    "ann_topk_cosine",
    "ann_topk_quantized",
    "ann_ivf_topk",
    "ann_ivf_kmeans_topk",
    "dedup_embedding_cosine",
    "dedup_embedding_cosine_lsh",
    "dedup_embedding_cosine_lsh_loose",
    "dedup_embedding_cosine_lsh_sized",
    "ann_ivf_quantized_topk",
    "semantic_dedup",
    "embedding_norm_stats",
    "embedding_dim_stats",
    "zipwith_consecutive_dot",
]

#: entries whose final sort key can be NULL on this corpus — the full
#: cross-engine key-tuple sequence is pinned (see
#: test_nullkey_adversaries for why sorted-row value checks miss this)
ORDERED = {
    "embedding_norm_stats": ["label"],
    "zipwith_consecutive_dot": ["label"],
}


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("adv_vec_nullid")
    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{CLEAN_SF}/{t}.parquet", d / f"{t}.parquet")
    con = duckdb.connect()
    con.execute(f"""
COPY (
  SELECT
    CASE WHEN vec_id % 101 = 3 THEN NULL ELSE vec_id END AS vec_id,
    embedding,
    CASE WHEN vec_id % 103 = 5 THEN NULL ELSE label END AS label
  FROM read_parquet('{CLEAN_SF}/embeddings.parquet')
) TO '{d}/embeddings.parquet' (FORMAT PARQUET)
""")
    return str(d)


@pytest.mark.parametrize("name", AFFECTED)
def test_embedding_entries_survive_null_ids(entry_mismatch, adv_dir, name):
    assert entry_mismatch(adv_dir, name) is None


@pytest.mark.parametrize("name", sorted(ORDERED))
def test_null_label_sorts_identically(entry_order_mismatch, adv_dir, name):
    assert entry_order_mismatch(adv_dir, name, ORDERED[name]) is None
