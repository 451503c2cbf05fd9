"""Round-8 NULL-key adversary suite: NULL doc_id / lang / source /
event_type injected into documents and events, with the keyed dedup and
text entries re-verified against their oracles.

What the probe found: `dedup_exact` aggregated totals and kept-counts
separately and equi-joined them back ON lang — and an equi-join silently
drops the NULL-lang group (NULL never equals NULL in a join) while the
oracle's single GROUP BY keeps it: 5 rows vs 6, no error anywhere. The
entry is now a single window + aggregation mirroring the oracle. The
broader rule this pins: joining on a grouped-out key that can be NULL
loses rows without a whisper — restructure or eqNullSafe.

Everything else in the keyed families (fingerprint/minhash/simhash/
jaccard/clusters/keep_best, the token/lang/quality text entries, the
type-keyed event entries) verified poison-stable: GROUP BY keeps NULL
keys identically in both engines, and equi-join key-drop happens on
BOTH sides where oracles use the same construction.
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from polario_spark.sources.tables import TABLES

CLEAN_SF = "/root/testdata/sf0.001"

AFFECTED = [
    "dedup_exact",          # the regression this suite exists for
    "dedup_fingerprint",
    "dedup_keep_best",
    "lang_id_confusion",
    "text_quality",
    "events_hot_hours",
    # round-9 additions: entries whose top-k / rank windows or group keys
    # touch poisoned columns and were NOT in the r8 sweep
    "stratified_topk_sample",   # NULL doc_id hash ranked into the sample pre-fix
    "chunk_documents",
    "events_json_stats",
]

#: final-sort key columns per entry, for the ORDER-sensitive check below.
#: The value comparison above sorts rows before comparing, which MASKS
#: engine disagreement on where NULL keys sort (Spark default asc is
#: NULLS FIRST, DuckDB's bare ORDER BY is NULLS LAST — the r8 ADVICE
#: caught exactly that on dedup_exact). Every entry here now pins the
#: full cross-engine sequence of its sort keys on the poisoned corpus.
ORDERED = {
    "dedup_exact": ["lang"],
    "dedup_fingerprint": ["canonical_id"],
    "dedup_keep_best": ["survivor_id"],
    "lang_id_confusion": ["labeled", "predicted"],
    "text_quality": ["lang"],
    "token_stats": ["source"],
    "repetition_signals": ["doc_id"],
    "events_hot_hours": ["event_type"],
    "events_json_stats": ["event_type"],
    "stratified_topk_sample": ["lang", "sample_rank"],
    "chunk_documents": ["doc_id", "chunk_id"],
}


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("adv_nullkey")
    for t in TABLES:
        if t not in ("documents", "events"):
            os.symlink(f"{CLEAN_SF}/{t}.parquet", d / f"{t}.parquet")
    con = duckdb.connect()
    con.execute(f"""
COPY (
  SELECT
    CASE WHEN doc_id % 101 = 3 THEN NULL ELSE doc_id END AS doc_id,
    * EXCLUDE (doc_id, lang, source),
    CASE WHEN doc_id % 103 = 5 THEN NULL ELSE lang END AS lang,
    CASE WHEN doc_id % 107 = 7 THEN NULL ELSE source END AS source
  FROM read_parquet('{CLEAN_SF}/documents.parquet')
) TO '{d}/documents.parquet' (FORMAT PARQUET)
""")
    con.execute(f"""
COPY (
  SELECT event_id, ts, user_id,
    CASE WHEN event_id % 101 = 3 THEN NULL ELSE event_type END AS event_type,
    value, props
  FROM read_parquet('{CLEAN_SF}/events.parquet')
) TO '{d}/events.parquet' (FORMAT PARQUET)
""")
    return str(d)


@pytest.mark.parametrize("name", AFFECTED)
def test_keyed_entries_survive_null_keys(entry_mismatch, adv_dir, name):
    assert entry_mismatch(adv_dir, name) is None


@pytest.mark.parametrize("name", sorted(ORDERED))
def test_null_keys_sort_identically_across_engines(
    entry_order_mismatch, adv_dir, name
):
    """Row-ORDER parity under NULL keys: the sequence of final-sort key
    tuples must be identical across engines (the sorted-row value check
    cannot see this). Only the sort-key columns are compared — within-tie
    row order is legitimately nondeterministic in both engines."""
    assert entry_order_mismatch(adv_dir, name, ORDERED[name]) is None


def test_dedup_exact_reports_null_lang_group(spark, adv_dir):
    """The NULL-lang documents must appear as their own report row — the
    pre-fix equi-join silently dropped them."""
    out = entry_mod.queries()["dedup_exact"](spark, adv_dir).collect()
    assert any(r.lang is None for r in out)
