"""Round-10 collation/normalization probe: Unicode NORMALIZATION FORMS as
group keys and ordering keys — the last uncovered divergence surface the
round-9 verdict named.

Why this family exists: "café" in NFC (é = U+00E9) and in NFD (e +
combining U+0301) are DIFFERENT strings that render identically. A
collation-aware engine (ICU) may treat them as equal or order them by
collation weight; Spark's default UTF8_BINARY collation and DuckDB's
default both compare raw UTF-8 BYTES — so the two engines are expected
to agree with each other (distinct groups, byte order), and that
agreement is exactly what this suite pins. If either engine ever flips
to a normalizing/ICU default (a Spark session collation conf, a DuckDB
ICU extension default), every lang-keyed GROUP BY and every string
ORDER BY tiebreak would silently split — this suite is the tripwire.

The poison rewrites ``documents.lang`` (a GROUP BY / block / strata key
across the text family) and ``events.event_type`` (a GROUP BY key across
the event family) for id slices into NFC and NFD variants of the same
rendered string — adjacent in byte order, identical on screen — and
appends NFC/NFD word soup to a text slice so min/max/fingerprint paths
see mixed-normalization bytes. Note the tokenizer contract
(functions.text.tokens: split on non-ASCII-alphanumerics) keeps
combining marks OUT of tokens, so n-gram/tiebreak paths never see them —
the exposed surfaces are exactly raw-string group keys, ordering keys,
and whole-string hashing, which is what this poison targets.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from polario_spark.sources.tables import TABLES

CLEAN_SF = "/root/testdata/sf0.001"

# NFC: é = U+00E9; NFD: e + combining acute U+0301. Same rendering,
# different bytes, both admissible in a real crawl (normalization is a
# property of the producer, not the language).
NFC_SUFFIX = "|| chr(233)"
NFD_SUFFIX = "|| 'e' || chr(769)"

AFFECTED = [
    # documents.lang as group / block / strata / order key
    "dedup_exact",
    "dedup_keep_best",
    "dedup_ngram_jaccard",
    "text_quality",
    "lang_id_confusion",
    "token_stats",
    "tfidf_top_terms",
    "top_bigrams_per_lang",
    "stratified_topk_sample",
    "stratified_sample_split",
    "quality_filter_funnel",
    # events.event_type as group key
    "events_hourly",
    "events_hot_hours",
    "events_sessions",
]


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("adv_collation")
    con = duckdb.connect()
    for t in TABLES:
        if t not in ("documents", "events"):
            os.symlink(f"{CLEAN_SF}/{t}.parquet", d / f"{t}.parquet")
    con.execute(f"""
COPY (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 2
              THEN text || ' caf' || chr(233) || ' caf' || 'e' || chr(769)
              ELSE text END AS text,
         CASE WHEN doc_id % 7 = 3 THEN 'd' {NFC_SUFFIX}
              WHEN doc_id % 7 = 5 THEN 'd' {NFD_SUFFIX}
              ELSE lang END AS lang,
         source,
         CASE WHEN doc_id % 11 = 2 THEN n_chars + 11 ELSE n_chars END AS n_chars
  FROM read_parquet('{CLEAN_SF}/documents.parquet')
) TO '{d}/documents.parquet' (FORMAT PARQUET)
""")
    con.execute(f"""
COPY (
  SELECT event_id, ts, user_id,
         CASE WHEN event_id % 19 = 7 THEN event_type {NFC_SUFFIX}
              WHEN event_id % 19 = 11 THEN event_type {NFD_SUFFIX}
              ELSE event_type END AS event_type,
         value, props
  FROM read_parquet('{CLEAN_SF}/events.parquet')
) TO '{d}/events.parquet' (FORMAT PARQUET)
""")
    return str(d)


@pytest.fixture(scope="module")
def adv_duck(adv_dir, oracle_views):
    return oracle_views(adv_dir)


def test_poison_creates_distinct_binary_groups(adv_duck):
    """Sanity: the NFC and NFD lang variants must be DISTINCT group keys
    under binary collation (two groups, not one) — otherwise the poison
    exercises nothing.

    Counts EXACTLY the two poison strings (round-10 shipped a `LIKE 'd%'`
    filter that also caught the organic lang 'de' in the base corpus and
    failed on 3 != 2 — the expected set is now derived from the same
    poison expressions the fixture builder uses, so it cannot drift from
    the corpus again)."""
    n, total = adv_duck.sql(
        f"SELECT count(DISTINCT lang), count(*) FROM documents "
        f"WHERE lang IN ('d' {NFC_SUFFIX}, 'd' {NFD_SUFFIX})"
    ).fetchone()
    assert n == 2, n  # NFC and NFD are distinct byte strings
    assert total > 0  # and the poison actually landed rows


@pytest.mark.parametrize("name", AFFECTED)
def test_string_keyed_entries_survive_mixed_normalization(
    entry_mismatch, adv_dir, name
):
    assert entry_mismatch(adv_dir, name) is None


def test_binary_order_agreement_on_normalization_forms(spark):
    """The load-bearing primitive, pinned directly: Spark UTF8_BINARY and
    DuckDB default must put NFC/NFD variants in the SAME total order
    (byte order), including against plain-ASCII neighbors — this is what
    every ORDER BY string tiebreak in the registry rests on."""
    vals = [
        "café",        # NFC
        "café",       # NFD
        "cafz",
        "cafe",
        "caf",
        "caféx",
        "caféx",
        "dé",
        "dé",
        "d",
    ]
    sdf = spark.createDataFrame([(v,) for v in vals], "s string")
    got = [r.s for r in sdf.orderBy("s").collect()]
    con = duckdb.connect()
    exp = [
        r[0]
        for r in con.execute(
            "SELECT s FROM (VALUES "
            + ",".join("(?)" for _ in vals)
            + ") t(s) ORDER BY s",
            vals,
        ).fetchall()
    ]
    assert got == exp
    # and both equal raw UTF-8 byte order
    assert got == sorted(vals, key=lambda s: s.encode("utf-8"))
