"""Round-9 vector-MAGNITUDE adversary suite: finite-but-extreme
components — float32-max cancellation pairs, lone 1e20 spikes, and
all-denormal (1.4e-45) vectors — injected into embeddings with correct
length and fully finite components, i.e. rows the round-8
``well_formed_vectors`` (NULL/NaN/Inf/ragged) happily ADMITTED.

What the probe found (two genuine cross-engine divergence families):

1. **Denormal-norm clamp mismatch.** An all-1e-45 vector has norm
   ~8e-45; the Spark/numpy side clamps norms to ``NORM_EPS`` (1e-12)
   everywhere, scoring its self-similarity ~1e-65, but the DuckDB
   oracle's CASE only rerouted *exactly-zero* dots to the clamp
   convention — ``list_cosine_similarity`` normalized the denormal
   vector to sim 1.0 and emitted ten extra oracle pairs across
   ``dedup_embedding_cosine*`` / ``semantic_dedup``. Fix: the oracle
   CASE now reroutes the whole clamp REGION (any norm < NORM_EPS) to
   the clamped quotient (functions/vector.py ``cosine``).

2. **Summation-order ulp divergence on huge-finite components.** A
   3e38 float32 component passes ``isfinite``, but a dot/norm near
   1e38 carries ulp ~2e22 — Spark's partial-agg fold, numpy's blocked
   GEMM, and DuckDB's ``list_dot_product`` loop each land on different
   last ulps, and ``round(x, 4)`` of a 39-digit double preserves ALL
   of them: ``embedding_norm_stats`` / ``embedding_dim_stats`` /
   ``zipwith_consecutive_dot`` hash-flipped cross-engine (and
   run-to-run). Fix: ``well_formed_vectors``/``well_formed_sql`` shed
   components with |x| > ``VEC_COMPONENT_CAP`` (1e3 — determinism at
   round(,4) needs n*ulp(64*c^2) < 5e-5, i.e. c < ~7e3 at dim 64;
   clean-corpus max |x| is 0.58, so the cap is the identity on any
   real embedding corpus), and the two stats entries profile the
   well-formed corpus on both engines.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from polario_spark.sources.tables import TABLES

CLEAN_SF = "/root/testdata/sf0.001"

#: every registry entry that touches the embedding column
AFFECTED = [
    "embedding_norm_stats",
    "embedding_dim_stats",
    "zipwith_consecutive_dot",
    "dedup_embedding_cosine",
    "dedup_embedding_cosine_lsh",
    "dedup_embedding_cosine_lsh_loose",
    "semantic_dedup",
    "ann_topk_cosine",
    "ann_topk_quantized",
    "ann_ivf_topk",
    "ann_ivf_kmeans_topk",
    "ann_ivf_quantized_topk",
    "dedup_embedding_cosine_lsh_sized",
]


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("adv_vecmag")
    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{CLEAN_SF}/{t}.parquet", d / f"{t}.parquet")
    # Four poison families, all length-64 and fully finite:
    #   %101=5  -> float32-max CANCELLATION pair (+3e38 at i=1, -3e38 at i=2)
    #   %109=11 -> huge pair embedded in all-ones (worst relative cancellation)
    #   %103=7  -> lone 1e20 spike at i=3
    #   %107=9  -> ALL components the smallest positive float32 denormal
    duckdb.connect().execute(f"""
COPY (
  SELECT vec_id,
    CASE
      WHEN vec_id % 101 = 5 THEN list_transform(embedding, (x, i) ->
        CASE WHEN i = 1 THEN '3e38'::FLOAT
             WHEN i = 2 THEN '-3e38'::FLOAT ELSE x END)
      WHEN vec_id % 109 = 11 THEN list_transform(embedding, (x, i) ->
        CASE WHEN i = 1 THEN '3e38'::FLOAT
             WHEN i = 3 THEN '-3e38'::FLOAT ELSE '1.0'::FLOAT END)
      WHEN vec_id % 103 = 7 THEN list_transform(embedding, (x, i) ->
        CASE WHEN i = 3 THEN '1e20'::FLOAT ELSE x END)
      WHEN vec_id % 107 = 9 THEN list_transform(embedding, (x, i) ->
        '1.4e-45'::FLOAT)
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
def test_embedding_entries_survive_magnitude_poison(
    entry_mismatch, adv_dir, name
):
    assert entry_mismatch(adv_dir, name) is None


def test_magnitude_cap_sheds_huge_keeps_denormal(spark, adv_dir, adv_duck):
    """The cap must shed exactly the huge-component families (both
    engines agreeing row-for-row) while ADMITTING denormal vectors —
    tiny magnitudes are handled by the norm clamp, not by shedding."""
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
    huge = {
        r[0]
        for r in adv_duck.sql(
            "SELECT vec_id FROM embeddings "
            "WHERE list_max(list_transform(embedding, x -> abs(x))) > 1e3"
        ).fetchall()
    }
    denormal = {
        r[0]
        for r in adv_duck.sql(
            "SELECT vec_id FROM embeddings WHERE embedding[1] = '1.4e-45'::FLOAT"
        ).fetchall()
    }
    assert huge and not (huge & spark_ids)          # every huge row shed
    assert denormal and denormal <= spark_ids       # every denormal row kept
    total = emb.count()
    assert len(spark_ids) == total - len(huge)      # nothing else shed


def test_denormal_cosine_clamp_agrees_cross_engine(spark, adv_duck):
    """Pin divergence family #1 at the expression layer: a denormal
    vector's self-cosine must take the CLAMPED convention (~0, not the
    normalized 1.0) in BOTH dialects."""
    from polario_spark.functions import vector as VEC

    sval = spark.sql(
        "SELECT "
        + VEC.cosine("v", "v", "spark")
        + " AS s FROM (SELECT array_repeat(CAST('1.4e-45' AS FLOAT), 64) AS v)"
    ).collect()[0][0]
    dval = adv_duck.sql(
        "SELECT "
        + VEC.cosine("v", "v", "duckdb")
        + " AS s FROM (SELECT list_transform(range(64), i -> '1.4e-45'::FLOAT) AS v)"
    ).fetchall()[0][0]
    assert abs(sval) < 1e-6, sval
    assert abs(dval) < 1e-6, dval
    assert abs(sval - dval) < 1e-9
