"""Round-9 huge-document probe: multi-megabyte and degenerate-shape
documents through the text and sparse-dedup families.

A crawl corpus contains megabyte-scale outliers — concatenated logs,
minified bundles, OCR dumps — and three shapes stress different code
paths than ordinary prose:

- ``varied``: ~2.3 MB of ~300k near-distinct tokens — array HOFs,
  explodes, and inverted-index postings at 1000x the organic per-doc
  volume (wide vocabulary, short posting lists);
- ``monotoken``: ONE ~2 MB token with no whitespace — per-token ops
  (md5, length stats, BPE-ish regex splitting) on a single huge unit;
  the regex path must not backtrack catastrophically;
- ``repeat``: one token repeated 300k times — the top-frequency /
  repetition scans at their worst case (the r8 sorted-run rewrite made
  pass_top_freq O(n log n) per doc; this probes it at length 300k), and
  a degenerate minhash/winnowing signature (every window identical).

Each affected entry is re-verified against its DuckDB oracle on the
augmented corpus — the point is not just survival but cross-engine
agreement at this scale (both tokenizers, both hash paths, both HOF
stacks chewing the same megabytes).

n_chars is set consistently (length of text) so entries that trust the
column agree with entries that recompute.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from polario_spark.sources.tables import TABLES

CLEAN_SF = "/root/testdata/sf0.001"

AFFECTED = [
    "text_quality",
    "token_stats",
    "repetition_signals",
    "tfidf_top_terms",
    "quality_filter_funnel",
    "bpe_token_stats",
    "chunk_documents",
    "token_budget_packing",
    "lang_id_confusion",
    "top_bigrams_per_lang",
    "dedup_fingerprint",
    "dedup_minhash",
    "dedup_rolling_windows",
    "dedup_ngram_jaccard",
    "exact_substring_dup",
]


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("adv_hugedoc")
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{CLEAN_SF}/{t}.parquet", d / f"{t}.parquet")
    con = duckdb.connect()
    con.execute(f"""
COPY (
  WITH big AS (
    SELECT 90001::BIGINT AS doc_id,
           (SELECT string_agg('tok' || (i % 50021), ' ') FROM range(300000) t(i)) AS text,
           'en' AS lang, 'src_huge' AS source
    UNION ALL
    SELECT 90002, repeat('z', 2000000), 'en', 'src_huge'
    UNION ALL
    SELECT 90003, (SELECT string_agg('spam', ' ') FROM range(300000)), 'de', 'src_huge'
  )
  SELECT doc_id, text, lang, source, n_chars
  FROM read_parquet('{CLEAN_SF}/documents.parquet')
  UNION ALL
  SELECT doc_id, text, lang, source, length(text) AS n_chars FROM big
) TO '{d}/documents.parquet' (FORMAT PARQUET)
""")
    return str(d)


@pytest.mark.parametrize("name", AFFECTED)
def test_text_entries_survive_huge_documents(entry_mismatch, adv_dir, name):
    assert entry_mismatch(adv_dir, name) is None
