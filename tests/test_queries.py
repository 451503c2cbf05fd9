"""End-to-end query registry tests: run a representative subset of
queries() against their DuckDB oracles at sf0.001 with the
``tools/check_oracles.py`` comparator (columns, Arrow types, row count,
values) — the same comparison the correctness gate performs."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"

# fast, shape-diverse subset; the sweep over every registry entry runs
# via tools/check_oracles.py
SUBSET = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "top_customers",
    "rollup_sales",
    "events_sessions",
    "dedup_minhash",
    "ann_topk_cosine",
    "text_quality",
    "hive_roundtrip",
    "q13_order_count_distribution",
    "ann_ivf_topk",
    "dedup_rolling_windows",
    "geomean_brand_price",
    "q11_important_parts",
    "q12_priority_by_linestatus",
    "stratified_sample_split",
    "quality_filter_funnel",
    "dedup_clusters",
    "orc_roundtrip",
    "range_join_value_buckets",
    "ntile_price_deciles",
    "ols_price_per_brand",
    "full_outer_nation_presence",
    "upsert_roundtrip",
    "events_gapfill",
    "incremental_rollup",
    "events_variant_extract",
    "embedding_dim_stats",
    "unpivot_lineitem_measures",
    "set_ops_all",
    "region_nation_list",
    "dq_violations",
    "recursive_month_spine",
    "order_value_extremes_window",
    "zipwith_consecutive_dot",
    "argmax_supplier_per_nation",
    "federated_three_formats",
    # sized LSH: the oracle was built from the GATE corpus's footer count
    # (sf0.01, n=500); sf0.001 has the same embeddings count, so the
    # build-time dials and the runtime dials coincide here exactly as
    # they do at the driver's gate
    "dedup_embedding_cosine_lsh_sized",
    "ann_ivf_quantized_topk",
]


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(entry_mismatch, name):
    assert entry_mismatch(SF_DIR, name) is None


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_every_query_has_oracle_or_reason():
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    missing = set(qs) - set(oracles)
    # Every registry entry must ship an oracle unless it is on this
    # explicit exemption list with a documented reason. The driver
    # records a weaker rows-only check for exempt entries.
    exempt = {
        # Iterative Lloyd refinement: each round's centroid means are
        # float sums whose cross-engine summation order differs, and the
        # raw (unrounded) argmax over those means can flip assignments
        # on near-ties — replaying 3 rounds bit-stably in DuckDB SQL is
        # not possible. Determinism + recall>=stride-path are pinned by
        # tests/test_operators.py instead.
        "ann_ivf_kmeans_topk",
    }
    assert missing <= exempt, missing - exempt
    assert exempt <= set(qs), "exemptions must name real entries"


def test_sized_lsh_warns_on_mismatched_corpus_dials(spark, tmp_path):
    """r12 advisor: the sized entry's oracle bands from the GATE corpus's
    import-time footer count; a run whose corpus resolves to different
    dials must warn loudly (it cannot be hash-compared against that
    oracle), and a run on the gate corpus itself must stay silent."""
    import warnings

    from polario_spark import queries as Q

    fn = Q.REGISTRY["dedup_embedding_cosine_lsh_sized"].spark
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        fn(spark, Q._GATE_SF_DIR)  # plan build only — no execution
        assert not [x for x in w if "differ from the baked" in str(x.message)]
    # a corpus 8x the gate size -> r = log2(4000/16) = 8, not the baked 5
    other = tmp_path / "sf_other"
    other.mkdir()
    spark.range(4000).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 64), x -> cast(x * (id + 1) % 7 as double))"
        " AS embedding",
    ).coalesce(1).write.parquet(str(other / "embeddings.parquet"))
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        fn(spark, str(other))
        hits = [x for x in w if "differ from the baked" in str(x.message)]
    assert len(hits) == 1, [str(x.message) for x in w]
    assert "banding, not correctness" in str(hits[0].message)
