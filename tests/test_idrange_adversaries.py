"""Round-9 id-domain probe: keys spanning the FULL int64 range — min,
min+1, -1, max-1, max — remapped onto existing rows of documents,
embeddings, and events, with the keyed entries re-verified against their
oracles.

Why this family exists: at 100 TB the natural id scheme is a 64-bit
content hash (xxhash64 — what this repo's own join keys use), which is
uniform over ALL of int64 — negative ids and the extreme values are
ordinary inputs, not corruption. Hazards this shape can trigger:

- successor/predecessor arithmetic (`id - 1`, `id + 1`) overflows at the
  domain edge — Spark's ANSI mode raises, DuckDB raises OutOfRange: a
  ONE-ROW job-kill in both engines, against the repo's corrupt-row
  policy (drop the row from the construct, never kill the job);
- modulo stride selections (`id % k == 0`) on negative ids — both
  engines use C remainder semantics (sign of the dividend), consistent,
  pinned here rather than assumed;
- block/bucket assignment (`floor(id / TILE)`) — floor-of-division is
  monotonic in id even with double-precision loss near 2^63, so block
  coverage of the pair space survives (monotonicity, not exactness, is
  the load-bearing property — see semdedup_dropped's docstring).

What the probe found: `zipwith_consecutive_dot` computed its successor
join key as `vec_id - 1`, so ONE min-int64 row killed the query in both
engines. Fixed with try_subtract (Spark) mirrored by an explicit
min-int64 CASE guard (DuckDB): the edge row simply has no predecessor,
exactly like any other id with no `id - 1` present.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from polario_spark.sources.tables import TABLES

CLEAN_SF = "/root/testdata/sf0.001"

I64_MIN = -(2**63)
I64_MAX = 2**63 - 1

#: existing id -> extreme id (targets disjoint from the organic 0..N
#: range and from each other, so id uniqueness is preserved)
REMAP = {
    3: I64_MIN,
    5: I64_MAX,
    7: -1,
    11: I64_MIN + 1,
    13: I64_MAX - 1,
    17: -123456789012345678,
}


def _remap_case(col: str) -> str:
    branches = "\n".join(
        f"    WHEN {col} = {src} THEN ({dst})::BIGINT" for src, dst in REMAP.items()
    )
    return f"CASE\n{branches}\n    ELSE {col} END"


AFFECTED = [
    # documents-keyed
    "dedup_exact",
    "dedup_fingerprint",
    "dedup_keep_best",
    "dedup_minhash",
    "dedup_rolling_windows",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "stratified_topk_sample",
    "stratified_sample_split",
    "chunk_documents",
    "token_budget_packing",
    "exact_substring_dup",
    "repetition_signals",
    "tfidf_top_terms",
    # embeddings-keyed
    "ann_topk_cosine",
    "ann_topk_quantized",
    "ann_ivf_topk",
    "dedup_embedding_cosine",
    "dedup_embedding_cosine_lsh",
    "dedup_embedding_cosine_lsh_sized",
    "ann_ivf_quantized_topk",
    "semantic_dedup",
    "embedding_norm_stats",
    "zipwith_consecutive_dot",   # the job-kill this suite exists for
    # events-keyed
    "events_sessions",
    "events_hot_hours",
    "sliding_window_counts",
]


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("adv_idrange")
    con = duckdb.connect()
    for t in TABLES:
        if t not in ("documents", "embeddings", "events"):
            os.symlink(f"{CLEAN_SF}/{t}.parquet", d / f"{t}.parquet")
    con.execute(f"""
COPY (
  SELECT {_remap_case('doc_id')} AS doc_id, * EXCLUDE (doc_id)
  FROM read_parquet('{CLEAN_SF}/documents.parquet')
) TO '{d}/documents.parquet' (FORMAT PARQUET)
""")
    con.execute(f"""
COPY (
  SELECT {_remap_case('vec_id')} AS vec_id, * EXCLUDE (vec_id)
  FROM read_parquet('{CLEAN_SF}/embeddings.parquet')
) TO '{d}/embeddings.parquet' (FORMAT PARQUET)
""")
    con.execute(f"""
COPY (
  SELECT {_remap_case('event_id')} AS event_id,
         {_remap_case('user_id')} AS user_id,
         * EXCLUDE (event_id, user_id)
  FROM read_parquet('{CLEAN_SF}/events.parquet')
) TO '{d}/events.parquet' (FORMAT PARQUET)
""")
    return str(d)


@pytest.mark.parametrize("name", AFFECTED)
def test_keyed_entries_survive_extreme_ids(entry_mismatch, adv_dir, name):
    assert entry_mismatch(adv_dir, name) is None
