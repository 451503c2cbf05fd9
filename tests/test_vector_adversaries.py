"""Round-8 vector-adversary suite: component-level corruption — NaN,
±Inf, and all-NULL components inside vectors of the CORRECT length —
injected into embeddings, with the whole embedding family re-verified
against its oracles on the poisoned corpus.

What the probe originally found (r7's `well_formed_vectors` checked
only NULL/ragged vectors, not components):

- DuckDB's `list_inner_product` REFUSES NULL components (job error) and
  its STDDEV accumulator overflows outright on an Inf component;
- Spark's int8 quantizer dies on `CAST(NaN AS BIGINT)` under ANSI;
- worst, a NaN cosine is a SILENT cross-engine divergence: Spark's
  `sim >= threshold` rejects NaN while DuckDB's total order sorts NaN
  above every real — a NaN-component vector would pass DuckDB pair
  filters and win DuckDB top-k ranks while Spark drops it.

Fix: `well_formed_vectors` now also requires every component non-NULL
and finite, with `well_formed_sql` as the oracle's provably-identical
predicate — applied across the cosine-dedup builders, the four ANN
entries, and embedding_dim_stats.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from polario_spark.sources.tables import TABLES

CLEAN_SF = "/root/testdata/sf0.001"

AFFECTED = [
    "embedding_dim_stats",
    "dedup_embedding_cosine",
    "dedup_embedding_cosine_lsh",
    "semantic_dedup",
    "ann_topk_cosine",
    "ann_topk_quantized",
    "ann_ivf_topk",
    "ann_ivf_quantized_topk",
    "dedup_embedding_cosine_lsh_sized",
]


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("adv_vec")
    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{CLEAN_SF}/{t}.parquet", d / f"{t}.parquet")
    duckdb.connect().execute(f"""
COPY (
  SELECT vec_id,
    CASE
      WHEN vec_id % 101 = 5 THEN list_transform(embedding, (x, i) -> CASE WHEN i = 1 THEN 'NaN'::FLOAT ELSE x END)
      WHEN vec_id % 103 = 7 THEN list_transform(embedding, (x, i) -> CASE WHEN i = 2 THEN 'Infinity'::FLOAT ELSE x END)
      WHEN vec_id % 107 = 9 THEN list_transform(embedding, (x, i) -> NULL::FLOAT)
      ELSE embedding END AS embedding,
    * EXCLUDE (vec_id, embedding)
  FROM read_parquet('{CLEAN_SF}/embeddings.parquet')
) TO '{d}/embeddings.parquet' (FORMAT PARQUET)
""")
    return str(d)


@pytest.fixture(scope="module")
def adv_duck(adv_dir, oracle_views):
    return oracle_views(adv_dir)


@pytest.mark.parametrize("name", AFFECTED)
def test_embedding_entries_survive_component_poison(
    entry_mismatch, adv_dir, name
):
    assert entry_mismatch(adv_dir, name) is None


def test_well_formed_predicates_agree(spark, adv_dir, adv_duck):
    """The Spark filter and the DuckDB predicate must shed EXACTLY the
    same rows — the whole cross-engine story rests on that."""
    from polario_spark.operators.similarity import (
        well_formed_sql,
        well_formed_vectors,
    )

    emb = spark.read.parquet(f"{adv_dir}/embeddings.parquet")
    spark_ids = {
        r.vec_id
        for r in well_formed_vectors(emb, "embedding", 64).select("vec_id").collect()
    }
    duck_ids = {
        r[0]
        for r in adv_duck.sql(
            f"SELECT vec_id FROM embeddings WHERE {well_formed_sql('embedding', 64)}"
        ).fetchall()
    }
    assert spark_ids == duck_ids
    # and the poison rows really are excluded
    total = emb.count()
    assert len(spark_ids) < total
