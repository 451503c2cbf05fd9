"""Round-9 duplicate-id probe: key-uniqueness violations — the same
doc_id / vec_id / event_id appearing on MULTIPLE distinct rows — through
the keyed entries, verified against their oracles.

Why this family exists: a re-crawled or multiply-ingested corpus emits
the same id with different payloads (new fetch of the same URL, a fixed
encoding, a partial re-run). Ids are a uniqueness ASSUMPTION, not a
guarantee, and id-keyed constructs behave differently under violation:
joins fan out, rank windows pool rows from different payloads into one
partition, groupBys silently merge. All of that is acceptable — IF both
engines do it identically and nothing becomes nondeterministic.

The poison duplicates existing rows under already-used ids with
DIFFERENT payload columns (text/lang for documents, embedding/label for
embeddings, value/type for events), so ties in rank windows stay broken
by real data, and every entry's output remains a well-defined multiset.

Found-and-understood notes rather than assumptions:

- chunk_documents: both sides now emit one chunk set PER ROW (the
  oracle's synthetic __rid — see chunk_documents_sql), so a duplicated
  doc_id yields duplicated (doc_id, chunk_id) rows in both engines;
- dedup/ANN joins and windows pool duplicate ids identically because
  both engines share the same construction (same join keys, same
  partition keys, same tiebreaks).
"""

from __future__ import annotations

import os

import duckdb
import pytest

from polario_spark.sources.tables import TABLES

CLEAN_SF = "/root/testdata/sf0.001"

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
    "chunk_documents",
    "text_quality",
    "token_stats",
    "repetition_signals",
    "tfidf_top_terms",
    "exact_substring_dup",
    # embeddings-keyed
    "ann_topk_cosine",
    "ann_ivf_topk",
    "dedup_embedding_cosine",
    "semantic_dedup",
    "embedding_norm_stats",
    "zipwith_consecutive_dot",
    # events-keyed
    "events_sessions",
    "events_hot_hours",
]


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("adv_dupid")
    con = duckdb.connect()
    for t in TABLES:
        if t not in ("documents", "embeddings", "events"):
            os.symlink(f"{CLEAN_SF}/{t}.parquet", d / f"{t}.parquet")
    # re-ingest shadow rows under already-used ids with different payloads
    con.execute(f"""
COPY (
  SELECT * FROM read_parquet('{CLEAN_SF}/documents.parquet')
  UNION ALL
  SELECT doc_id,
         text || ' recrawl fetched again later',
         CASE WHEN lang = 'en' THEN 'de' ELSE 'en' END AS lang,
         'src_recrawl' AS source,
         n_chars + 28 AS n_chars
  FROM read_parquet('{CLEAN_SF}/documents.parquet')
  WHERE doc_id % 11 = 4
) TO '{d}/documents.parquet' (FORMAT PARQUET)
""")
    # two duplicate flavors: COLINEAR (x*0.5 — cosine-invariant, the
    # original probe) and NON-COLINEAR (reversed components — different
    # cosine geometry). The advisor's round-9 finding: a colinear-only
    # poison cannot catch a nondeterministic duplicate-vector carry in
    # the IVF assignment, because either duplicate assigns to the same
    # cell with the same sims. The reversed duplicates pin the canonical
    # dup-collapse (lexicographic max vector, canonical_vectors) that
    # round 10 made the contract on both engines.
    con.execute(f"""
COPY (
  SELECT * FROM read_parquet('{CLEAN_SF}/embeddings.parquet')
  UNION ALL
  SELECT vec_id,
         list_transform(embedding, x -> x * 0.5) AS embedding,
         label + 1 AS label
  FROM read_parquet('{CLEAN_SF}/embeddings.parquet')
  WHERE vec_id % 13 = 6
  UNION ALL
  SELECT vec_id,
         list_reverse(embedding) AS embedding,
         label + 2 AS label
  FROM read_parquet('{CLEAN_SF}/embeddings.parquet')
  WHERE vec_id % 13 = 2
) TO '{d}/embeddings.parquet' (FORMAT PARQUET)
""")
    con.execute(f"""
COPY (
  SELECT * FROM read_parquet('{CLEAN_SF}/events.parquet')
  UNION ALL
  SELECT event_id, ts, user_id, 'replayed_' || event_type AS event_type,
         value * 2, props
  FROM read_parquet('{CLEAN_SF}/events.parquet')
  WHERE event_id % 17 = 9
) TO '{d}/events.parquet' (FORMAT PARQUET)
""")
    return str(d)


@pytest.mark.parametrize("name", AFFECTED)
def test_keyed_entries_survive_duplicate_ids(entry_mismatch, adv_dir, name):
    assert entry_mismatch(adv_dir, name) is None
