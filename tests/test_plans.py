"""Plan-quality tests: the properties that make queries survive scale-up.

Each assertion here is a performance contract: filter pushdown to the
parquet scan, column pruning in ReadSchema, broadcast joins for dims,
partition pruning through the dataset layer.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from polario_spark import HiveDataset, queries as Q, unwrap
from polario_spark.plans import (
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
    scan_read_schema,
)

SF_DIR = "/root/testdata/sf0.001"


def test_q1_filter_pushdown_and_pruning(spark):
    df = Q.q1_pricing_summary(spark, SF_DIR)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in f for f in pushed), pushed
    # only the 7 needed columns are read, not all 11
    schemas = scan_read_schema(df)
    assert schemas and all("l_orderkey" not in s for s in schemas)
    assert all("l_comment" not in s for s in schemas)


def test_q3_broadcasts_customer(spark):
    df = Q.q3_shipping_priority(spark, SF_DIR)
    assert has_broadcast_join(df)
    pushed = pushed_filters(df)
    assert any("c_mktsegment" in f for f in pushed), pushed
    assert any("o_orderdate" in f for f in pushed), pushed


def test_q5_broadcasts_dims(spark):
    df = Q.q5_local_supplier_volume(spark, SF_DIR)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3  # cust, supp, nation/region


def test_events_queries_prune_columns(spark):
    df = Q.events_sessions(spark, SF_DIR)
    schemas = scan_read_schema(df)
    # props (the widest column) is never read
    assert schemas and all("props" not in s for s in schemas)


def test_hive_dataset_partition_pruning(spark, tmp_path, example_df_1):
    ds = HiveDataset(spark, str(tmp_path / "ds"), ["p1", "p2"])
    ds.write(example_df_1)
    pruned = unwrap(ds.scan()).filter(F.col("p1") == "1")
    plan = formatted_plan(pruned)
    assert "PartitionFilters" in plan and "p1" in plan.split("PartitionFilters")[1][:200]


def test_hive_dataset_dynamic_partition_pruning(spark, tmp_path):
    """Joining a partitioned fact on its partition column against a
    filtered dim must trigger dynamic partition pruning: the fact scan's
    PartitionFilters gains a dynamicpruning expression fed by the dim's
    broadcast, so only the dim-selected partitions are ever read — the
    mechanism that keeps star joins over a 100 TB partitioned table from
    scanning every partition."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderstatus").cast("string").alias("status"),
    )
    ds = HiveDataset(spark, str(tmp_path / "fact"), ["status"])
    ds.write(orders)
    dim = spark.createDataFrame(
        [("F", "closed"), ("O", "open"), ("P", "pending")],
        "status string, label string",
    ).filter(F.col("label") == "open")
    fact = unwrap(ds.scan())
    joined = fact.join(dim, "status").groupBy("label").agg(
        F.sum("o_totalprice").alias("total")
    )
    plan = formatted_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_dedup_minhash_single_agg_pass(spark):
    """The signature computation must be ONE aggregate over the exploded
    shingles, not k passes."""
    docs = Q._t(spark, SF_DIR, "documents")  # noqa: SLF001
    from polario_spark.operators import dedup

    import re

    sig = dedup.minhash_signatures(docs, "doc_id", "text")
    plan = formatted_plan(sig)
    # count plan NODES (the "(n) Op" detail headers), not tree-art mentions
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1  # one explode
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2  # partial+final


def test_ann_broadcasts_queries(spark):
    df = Q.ann_topk_cosine(spark, SF_DIR)
    assert has_broadcast_join(df)


def test_no_row_python_udfs_anywhere(spark):
    """Every registry query must stay Arrow-side: no BatchEvalPython
    (row-at-a-time Python UDF) in any physical plan."""
    import io
    from contextlib import redirect_stdout

    import __spark_entry__ as entry_mod

    skip = {
        "streaming_events_hourly",
        "streaming_sliding_counts",
        "streaming_stateful_sessions",
        "streaming_dedup_counts",
        "streaming_click_attribution",
        "hive_roundtrip",
    }
    for name, fn in entry_mod.queries().items():
        if name in skip:
            continue
        df = fn(spark, "/root/testdata/sf0.001")
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        assert "BatchEvalPython" not in buf.getvalue(), name


def test_decontamination_broadcasts_eval_grams(spark):
    """The eval-set gram table must be the broadcast side so the training
    corpus (the 100 TB side at scale) is never shuffled for the hit-join;
    and the corpus side must never appear in a cartesian/NLJ pair.

    Since the single-pass rewrite, _decontam_plan marks hits with ONE
    left-outer join against the distinct broadcast gram set (the corpus
    shingles explode once and are consumed once) instead of the earlier
    LeftSemi — assert that exact shape for both entries sharing the
    builder."""
    for query in (Q.decontamination_overlap, Q.decontamination_overlap_8gram):
        df = query(spark, SF_DIR)
        plan = formatted_plan(df)
        assert "BroadcastHashJoin" in plan, (query.__name__, plan)
        assert "LeftOuter" in plan and "BuildRight" in plan, (query.__name__, plan)
        assert "SortMergeJoin" not in plan, query.__name__
        assert "CartesianProduct" not in plan, query.__name__


def test_token_budget_packing_single_stream_shuffle(spark):
    """Packing is one per-stream (lang) sort window plus an aggregate that
    reuses the same partitioning — no second full-data exchange between
    the window and the groupBy."""
    df = Q.token_budget_packing(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Window" in plan
    # exchanges: one hashpartitioning(lang) for the window; the final
    # orderBy adds a rangepartitioning; the groupBy must NOT add a third
    # full shuffle because (lang, seq_id) is a refinement produced after
    # the window's partitioning
    assert plan.count("hashpartitioning") <= 2, plan


def test_text_expression_pipelines_stay_narrow(spark):
    """The expression-only text operators must stay single-pass: no join,
    no Python, and no exchange beyond the final output sort (signals) /
    the aggregation the operator is (funnel). Also pin the bound-array
    shape: the plan must NOT contain a tokenizer call nested inside a
    slice(), which is the quadratic inlining regression."""
    for name in ["repetition_signals", "chunk_documents"]:
        df = Q.REGISTRY[name].spark(spark, SF_DIR)
        plan = formatted_plan(df)
        assert "Join" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "slice(filter(split(" not in plan.replace(" ", ""), (
            name,
            "tokenizer re-inlined into a lambda slice",
        )


def test_ngram_pipelines_keep_tokenizer_bound(spark):
    """The shingle pipelines must keep the token array BOUND outside the
    n-gram lambdas: a tokenizer re-inlined into the slice()/size() of the
    shingle transform re-tokenizes the document once per shingle position
    (quadratic). Pins the round-6 explode_outer workaround that defeats
    InferFiltersFromGenerate's re-inlining. exact_substring_dup is
    asserted on its pre-checkpoint grams subplan — the query's
    localCheckpoint truncates lineage, hiding the shape from the final
    explain."""
    from pyspark.sql import functions as SF

    from polario_spark.functions import text as TXT

    docs = Q._t(spark, SF_DIR, "documents").withColumns(  # noqa: SLF001
        {"__toks": SF.expr(TXT.tokens("text", "spark"))}
    )
    plans = {"exact_substring_grams": formatted_plan(Q._exsub_grams(docs))}  # noqa: SLF001
    for name in ["decontamination_overlap", "decontamination_overlap_8gram"]:
        plans[name] = formatted_plan(Q.REGISTRY[name].spark(spark, SF_DIR))
    for name, plan in plans.items():
        squeezed = plan.replace(" ", "")
        assert "slice(filter(split(" not in squeezed, name
        assert "size(filter(split(" not in squeezed, name


def test_dedup_keep_best_is_single_agg(spark):
    """Survivor selection must be one hash aggregate on the fingerprint
    key — no window sort (the oracle's row_number shape)."""
    df = Q.REGISTRY["dedup_keep_best"].spark(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Window" not in plan
    # struct-keyed max_by compiles to SortAggregate (partial + final) —
    # still a map-side-combinable aggregate, just not hash-based
    assert "Aggregate" in plan


def test_tfidf_joins_on_term_and_broadcasts_count(spark):
    """TF-IDF: no cartesian pair enumeration; the corpus row count joins
    in as a broadcast single-row side."""
    df = Q.REGISTRY["tfidf_top_terms"].spark(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def _plan_facts(df):
    import re

    plan = formatted_plan(df)
    return {
        "scans": len(re.findall(r"\(\d+\) Scan parquet", plan)),
        "hashpart": plan.count("hashpartitioning"),
        "smj": plan.count("SortMergeJoin"),
        "cart": plan.count("CartesianProduct"),
        "gen": len(re.findall(r"\(\d+\) Generate", plan)),
        "rand": "rand(" in plan,
    }


def test_scale_shapes_pinned(spark):
    """Pin the SCALE.md shape claims that had no plan test yet. Each
    bound is a scale contract: breaking one means the operator gained a
    scan, a shuffle, or a pair-space join it does not need at 100 TB."""
    cases = {
        # one scan pass, conditional sums, zero exchanges: the partials
        # row is the only thing that crosses the wire
        "dq_violations": {"scans": 1, "hashpart": 0, "smj": 0, "cart": 0},
        # two-stage salt: salted partial agg + final agg = exactly two
        # hash exchanges, no single hot-key partition
        "skew_salted_agg": {"hashpart": 2, "smj": 0, "cart": 0},
        # two-level agg over a broadcast join: no join shuffle, only the
        # two group-key exchanges
        "q13_order_count_distribution": {"hashpart": 2, "smj": 0},
        # content-addressed split: pure function of the id — no rand(),
        # one scan
        "stratified_sample_split": {"scans": 1, "rand": False},
        # 32 conditional sums in ONE agg pass over ONE shingle explode
        "dedup_simhash": {"gen": 1, "scans": 1, "smj": 0},
        # spine join stays broadcast: never a cartesian or sort-merge
        "events_gapfill": {"smj": 0, "cart": 0},
        # quantized brute-force keeps the broadcast-query shape
        "ann_topk_quantized": {"smj": 0, "cart": 0, "scans": 2},
        # round-8 sorted-run top-freq: still ONE scan over documents and
        # the single |sources| group-key exchange — the O(n log n)
        # rewrite must not have bought its speed with an explode or a
        # join-back (the explode->count->max alternative would add a
        # doc_id shuffle)
        "quality_filter_funnel": {"scans": 1, "hashpart": 1, "smj": 0,
                                  "gen": 0, "cart": 0},
    }
    for name, expected in cases.items():
        facts = _plan_facts(Q.REGISTRY[name].spark(spark, SF_DIR))
        for key, want in expected.items():
            assert facts[key] == want, (name, key, facts)


def test_release_cached_residue_sweeps_checkpoint_blocks(spark):
    """localCheckpoint blocks persist past the query's action — the sweep
    must release them, and a REBUILT query (fresh checkpoint) must still
    work afterwards; that rebuild-after-sweep contract is what bench.py
    relies on between repeats."""
    from polario_spark.plans import release_cached_residue

    release_cached_residue(spark)  # start clean
    df = spark.range(1000).localCheckpoint(eager=True)
    assert df.count() == 1000
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) > 0
    released = release_cached_residue(spark)
    assert released >= 1
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0
    rebuilt = spark.range(1000).localCheckpoint(eager=True)
    assert rebuilt.count() == 1000
    release_cached_residue(spark)


def test_range_join_binned_is_hash_equi_join(spark):
    """The bin-and-equi-join rewrite must plan as a broadcast HASH join on
    the bin key — the nested-loop shape it replaces must be gone."""
    df = Q.REGISTRY["range_join_binned"].spark(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_capped_dedup_census_shapes(spark):
    """Round-9 degenerate-bucket cap, plan contracts from SCALE.md:

    - the bucket census is an AGGREGATE (map-side combinable partials),
      never a Window over the postings (a window would sort the full
      posting stream per bucket key and recompute per plan branch);
    - the over-cap key filter is a broadcast LeftAnti join (the hot
      frame is <= |postings|/cap and empty on organic corpora), so the
      normal-regime pair join keeps its old shape;
    - no sort-merge or cartesian joins anywhere in the pair pipeline.
    """
    from polario_spark.operators import dedup, similarity

    docs = Q._t(spark, SF_DIR, "documents")  # noqa: SLF001
    sig = dedup.minhash_signatures(docs, "doc_id", "text")
    frames = {
        "rolling": dedup.rolling_window_pairs(docs, "doc_id", "text"),
        "minhash": dedup.minhash_candidate_pairs(sig, "doc_id"),
        "ngram": similarity.ngram_jaccard_pairs(docs, "doc_id", "text"),
    }
    for name, df in frames.items():
        plan = formatted_plan(df)
        assert "Window" not in plan, (name, "census must stay an aggregate")
        assert "Join type: LeftAnti" in plan, (name, "over-cap anti-join missing")
        # every anti-join in these plans must be broadcast at organic scale
        assert plan.count("BroadcastHashJoin LeftAnti") == plan.count(
            "Join type: LeftAnti"
        ) or "SortMergeJoin LeftAnti" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, (name, "pair join lost broadcast")


def test_run_concurrently_waits_for_all_and_reports_every_failure():
    """``run_concurrently`` returns results in submission order, raises
    the first failure in submission order with every other failure
    attached as a note, and returns only after every thunk finished —
    so a failing write beside a slow one can neither mask the other's
    exception nor leave it running behind the caller."""
    import threading
    import time

    import pytest

    from polario_spark.plans.parallelism import run_concurrently

    def slow_value():
        time.sleep(0.2)
        return "slow"

    assert run_concurrently(slow_value, lambda: "fast") == ["slow", "fast"]

    def slow_failure():
        time.sleep(0.2)
        raise ValueError("index write failed")

    def fast_failure():
        raise OSError("centroid write failed")

    with pytest.raises(ValueError, match="index write failed") as info:
        run_concurrently(slow_failure, fast_failure)
    notes = getattr(info.value, "__notes__", [])
    assert any("OSError: centroid write failed" in n for n in notes), notes

    finished = threading.Event()

    def slow_success():
        time.sleep(0.3)
        finished.set()

    def failure():
        raise RuntimeError("probe write failed")

    with pytest.raises(RuntimeError, match="probe write failed"):
        run_concurrently(failure, slow_success)
    assert finished.is_set()
