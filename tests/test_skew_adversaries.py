"""Round-9 skew adversary suite: the degenerate-bucket (boilerplate
cluster) regime of the sparse-similarity dedup family.

The hazard this pins (r8 verdict "What's wrong #1"): a crawl's
boilerplate cluster — m identical docs, millions in practice — lands in
ONE LSH band / window-hash / gram bucket, and a naive inverted-index
self-join emits O(m^2) candidate pairs. AQE skew-join only spreads that
quadratic work across tasks; it cannot shrink the pair cardinality. The
fix under test:

- ``minhash_candidate_pairs`` / ``rolling_window_pairs``: buckets over
  ``bucket_cap`` emit star pairs to the bucket's min id (m-1 pairs) —
  connected components through the candidate graph are unchanged.
- ``ngram_jaccard_pairs``: grams with within-block df over ``df_cap``
  leave the vocabulary in both engines (the classic set-similarity
  df/stopword cut); a pure boilerplate cluster emits no Jaccard pairs
  at all (full-document duplicates are exact dedup's job).

Every capped path is mirrored verbatim in the SQL oracles, so the
cross-engine tests here run the REGISTRY entries on a tripped corpus.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from polario_spark.operators import dedup, similarity
from polario_spark.sources.tables import TABLES

CLEAN_SF = "/root/testdata/sf0.001"

#: boilerplate passage used for the degenerate corpora — long enough for
#: >= ROLLING_MIN_SHARED distinct 8-token windows and a healthy bigram set
BOILERPLATE = (
    "cookie notice please accept our cookie policy to continue "
    "reading this site uses cookies to improve your experience "
    "by continuing you agree to the terms of service"
)


def _copies_df(spark, m: int, text: str = BOILERPLATE, start_id: int = 0):
    return spark.range(start_id, start_id + m).select(
        F.col("id").alias("doc_id"),
        F.lit(text).alias("text"),
        F.lit("en").alias("lang"),
    )


# ---------------------------------------------------------------------------
# (a) pair-output cardinality: O(m), not O(m^2), on a 20k-copy corpus
# ---------------------------------------------------------------------------

def test_minhash_star_pairs_bounded_on_20k_copies(spark):
    m = 20_000
    docs = _copies_df(spark, m)
    sig = dedup.minhash_signatures(docs, "doc_id", "text")
    pairs = dedup.minhash_candidate_pairs(sig, "doc_id")
    rows = pairs.collect()
    # star pairs to the bucket min: exactly m-1, hub id 0 — the naive
    # enumeration would be ~2e8 pairs and never finish here
    assert len(rows) == m - 1
    assert all(r.id_a == 0 for r in rows)
    assert sorted(r.id_b for r in rows) == list(range(1, m))
    assert all(r.est_sim == 1.0 for r in rows)


def test_rolling_star_pairs_bounded_on_20k_copies(spark):
    m = 20_000
    docs = _copies_df(spark, m)
    pairs = dedup.rolling_window_pairs(docs, "doc_id", "text")
    rows = pairs.collect()
    assert len(rows) == m - 1
    assert all(r.id_a == 0 for r in rows)
    # every copy shares ALL the boilerplate's windows with the hub, so
    # the star count equals the doc's distinct window count (>= threshold)
    counts = {r.shared_windows for r in rows}
    assert len(counts) == 1
    assert counts.pop() >= dedup.ROLLING_MIN_SHARED


def test_ngram_dfcut_silences_pure_boilerplate(spark):
    # every gram's df == m > cap, so the whole cluster leaves the
    # vocabulary: zero pairs, zero join blowup. Exact/fingerprint dedup
    # owns full-document duplicates.
    m = 20_000
    docs = _copies_df(spark, m)
    assert similarity.ngram_jaccard_pairs(docs, "doc_id", "text").count() == 0


# ---------------------------------------------------------------------------
# (b) below the cap nothing changes: capped == uncapped on organic data
# ---------------------------------------------------------------------------

def _norm(rows):
    return sorted(tuple(r) for r in rows)


@pytest.fixture(scope="module")
def organic_docs(spark):
    return spark.read.parquet(f"{CLEAN_SF}/documents.parquet")


def test_minhash_cap_inert_below_cap(spark, organic_docs):
    sig = dedup.minhash_signatures(organic_docs, "doc_id", "text")
    capped = dedup.minhash_candidate_pairs(sig, "doc_id")
    uncapped = dedup.minhash_candidate_pairs(sig, "doc_id", bucket_cap=10**9)
    assert _norm(capped.collect()) == _norm(uncapped.collect())


def test_rolling_cap_inert_below_cap_and_clusters_identical(spark, organic_docs):
    capped = dedup.rolling_window_pairs(organic_docs, "doc_id", "text")
    uncapped = dedup.rolling_window_pairs(
        organic_docs, "doc_id", "text", bucket_cap=10**9
    )
    assert _norm(capped.collect()) == _norm(uncapped.collect())
    cc_capped = dedup.connected_components(capped)
    cc_uncapped = dedup.connected_components(uncapped)
    assert _norm(cc_capped.collect()) == _norm(cc_uncapped.collect())


def test_ngram_dfcut_inert_below_cap(spark, organic_docs):
    capped = similarity.ngram_jaccard_pairs(organic_docs, "doc_id", "text")
    uncapped = similarity.ngram_jaccard_pairs(
        organic_docs, "doc_id", "text", df_cap=10**9
    )
    assert _norm(capped.collect()) == _norm(uncapped.collect())


# ---------------------------------------------------------------------------
# star capping preserves connected components when it DOES trip
# ---------------------------------------------------------------------------

def _grouped_corpus(spark):
    """3 boilerplate groups of 40 identical docs each + 5 unique docs."""
    groups = []
    for g in range(3):
        groups.append(
            _copies_df(spark, 40, text=BOILERPLATE + f" group marker {g} " * 3,
                       start_id=g * 1000)
        )
    uniques = spark.createDataFrame(
        [
            (9000 + i,
             f"completely unrelated document {i} about spark catalyst "
             f"optimizer internals partition {i} pruning and codegen {i}",
             "en")
            for i in range(5)
        ],
        "doc_id long, text string, lang string",
    )
    out = groups[0]
    for gdf in groups[1:]:
        out = out.unionAll(gdf)
    return out.unionAll(uniques)


def test_minhash_star_capping_preserves_components(spark):
    docs = _grouped_corpus(spark)
    sig = dedup.minhash_signatures(docs, "doc_id", "text")
    pairs_capped = dedup.minhash_candidate_pairs(sig, "doc_id", bucket_cap=8)
    pairs_full = dedup.minhash_candidate_pairs(sig, "doc_id", bucket_cap=10**9)
    # capped output is linear in group size; full enumeration is quadratic
    assert pairs_capped.count() < pairs_full.count()
    cc_capped = _norm(dedup.connected_components(pairs_capped).collect())
    cc_full = _norm(dedup.connected_components(pairs_full).collect())
    assert cc_capped == cc_full


def test_rolling_star_capping_preserves_components(spark):
    docs = _grouped_corpus(spark)
    pairs_capped = dedup.rolling_window_pairs(docs, "doc_id", "text", bucket_cap=8)
    pairs_full = dedup.rolling_window_pairs(
        docs, "doc_id", "text", bucket_cap=10**9
    )
    assert pairs_capped.count() < pairs_full.count()
    cc_capped = _norm(dedup.connected_components(pairs_capped).collect())
    cc_full = _norm(dedup.connected_components(pairs_full).collect())
    assert cc_capped == cc_full


# ---------------------------------------------------------------------------
# cross-engine parity on a TRIPPED corpus: the registry entries and their
# oracles must agree when the cap actually fires (600 copies > cap 512)
# ---------------------------------------------------------------------------

AFFECTED = [
    "dedup_minhash",
    "dedup_rolling_windows",
    "dedup_ngram_jaccard",
    "dedup_clusters",
]


@pytest.fixture(scope="module")
def skew_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("adv_skew")
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{CLEAN_SF}/{t}.parquet", d / f"{t}.parquet")
    con = duckdb.connect()
    con.execute(f"""
COPY (
  SELECT * FROM read_parquet('{CLEAN_SF}/documents.parquet')
  UNION ALL
  SELECT 100000 + i AS doc_id, '{BOILERPLATE}' AS text, 'en' AS lang,
         'boiler' AS source, len('{BOILERPLATE}') AS n_chars
  FROM range(600) t(i)
) TO '{d}/documents.parquet' (FORMAT PARQUET)
""")
    return str(d)


@pytest.mark.parametrize("name", AFFECTED)
def test_dedup_entries_survive_boilerplate_cluster(
    entry_mismatch, skew_dir, name
):
    assert entry_mismatch(skew_dir, name) is None


def test_tripped_registry_minhash_is_linear(spark, skew_dir):
    """On the 600-copy cluster the registry entry's pair count for the
    cluster is m-1 (599 star pairs), not C(600,2)=179700."""
    out = entry_mod.queries()["dedup_minhash"](spark, skew_dir)
    cluster_pairs = out.filter(F.col("id_b") >= 100000).count()
    assert cluster_pairs == 599


# ---------------------------------------------------------------------------
# prefix-filtered candidate generation is output-identical to the full join
# ---------------------------------------------------------------------------

def test_ngram_prefix_filter_equivalence(spark, organic_docs):
    """``prefix_filter=True`` (Bayardo prefix filter + array_intersect
    verify) must return EXACTLY the full inverted-index join's pairs —
    on the organic corpus, on a mid-frequency boilerplate mix (the df
    regime the prefix path exists for), on duplicate ids, on NULL
    blocks, and at a second threshold (different prefix lengths)."""
    from pyspark.sql import functions as F

    # organic corpus, two thresholds
    for t in (0.6, 0.3):
        full = _norm(
            similarity.ngram_jaccard_pairs(
                organic_docs, "doc_id", "text", threshold=t
            ).collect()
        )
        pref = _norm(
            similarity.ngram_jaccard_pairs(
                organic_docs, "doc_id", "text", threshold=t, prefix_filter=True
            ).collect()
        )
        assert full == pref, t

    # adversarial mix: a 30-copy boilerplate cluster (df under the cap,
    # exactly the mid-frequency bulge), near-dup variants, a NULL-lang
    # doc, and one id re-ingested with different text
    base = _copies_df(spark, 30)
    variants = spark.createDataFrame(
        [
            (1000, BOILERPLATE + " extra tail words here", "en", "s", 1),
            (1001, BOILERPLATE + " extra tail words here!", "en", "s", 1),
            (1002, "totally different text about gardens and rivers", "en", "s", 1),
            (1003, BOILERPLATE, None, "s", 1),  # NULL block never pairs
            (5, "duplicate id with other text entirely", "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).select(*base.columns)
    docs = base.unionByName(variants)
    full = _norm(similarity.ngram_jaccard_pairs(docs, "doc_id", "text").collect())
    pref = _norm(
        similarity.ngram_jaccard_pairs(
            docs, "doc_id", "text", prefix_filter=True
        ).collect()
    )
    assert full == pref
    assert full, "adversarial mix must produce pairs for the test to bite"


def test_ngram_pin_falls_back_on_non_numeric_shuffle_partitions(
    spark, organic_docs, monkeypatch
):
    """The ngram exchange pin takes its width from
    ``spark.sql.shuffle.partitions``; a platform where that conf reads
    back non-numeric (e.g. "auto") must fall back to defaultParallelism
    instead of raising from ``int()``, and the pairs must not change."""
    base = _norm(
        similarity.ngram_jaccard_pairs(organic_docs, "doc_id", "text").collect()
    )
    assert base, "organic corpus must produce pairs for the test to bite"

    # Spark 4 refuses a runtime SET of a non-numeric shuffle.partitions,
    # so emulate the managed-platform read-back at the Python conf layer
    real_get = type(spark.conf).get

    def fake_get(self, key, *args, **kwargs):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(self, key, *args, **kwargs)

    monkeypatch.setattr(type(spark.conf), "get", fake_get)
    assert base == _norm(
        similarity.ngram_jaccard_pairs(organic_docs, "doc_id", "text").collect()
    )
