"""The engine's query registry: every implemented operator as a named
(spark_callable, duckdb_oracle_sql) pair.

Each Spark callable takes (spark, sf_dir) and returns a DataFrame; each
oracle is self-contained ANSI SQL over the pre-registered DuckDB views
(region nation customer supplier part orders lineitem events documents
embeddings). Column aliases match exactly between the two sides — the
driver's comparator sorts columns by name and hashes values.

Determinism rules applied throughout:
- every floating-point output is round(·, 2..4) at double precision;
- every top-k has a total deterministic ordering (value desc, id asc);
- timestamps are compared as formatted strings or epoch integers (Spark is
  µs-precision, DuckDB ns — raw values can't hash-match).

Scale notes are on each query; the common ones: small dims are broadcast,
aggregations are map-side combinable, filters/projections sit directly on
the parquet scan so Catalyst pushes them down.
"""

from __future__ import annotations

import functools as _functools
import json as _json
import os
import pathlib as _pathlib
import re
from collections.abc import Callable

import pandas as pd
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from polario_spark.hive_dataset import HiveDataset
from polario_spark.functions import numeric as NUM
from polario_spark.functions import text as TXT
from polario_spark.functions import vector as VEC
from polario_spark.operators import dedup, similarity, text_analysis
from polario_spark.operators.multimodal import (
    extract_binary_features,
    frame_sample,
    with_binary_payload,
)
from polario_spark.plans.parallelism import ensure_parallelism, run_concurrently
from polario_spark.sources.tables import footer_rows, load_table
from polario_spark.streaming import events as streaming_events
from polario_spark.streaming.events import hourly_counts
from polario_spark.workdir import prepare_stable_dir, stable_work_path, work_dir


@dataclass
class Query:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]


REGISTRY: dict[str, Query] = {}


def _register(name: str, oracle: Optional[str]):
    def deco(fn):
        REGISTRY[name] = Query(spark=fn, oracle=oracle)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ===========================================================================
# Relational core: TPC-H-shaped analytics
# ===========================================================================

@_register(
    "q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: grouped pricing summary. One scan, map-side partial aggs,
    2-key shuffle of 6 partial states — the plan every engine should pick."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@_register(
    "q3_shipping_priority",
    """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: 3-way join + top-10. The orders<->lineitem join shuffles
    on orderkey (both sides pre-filtered, so the shuffle carries only
    qualifying rows). customer is NOT force-broadcast: it scales with SF
    (unlike nation/region), so pinning broadcast is a driver OOM at
    cluster SF — AQE picks broadcast from runtime sizes whenever the
    filtered side fits (measured at x300: AQE chooses the same broadcast
    plan, within ~20% of the forced pin from the extra decision stage),
    and falls back to a shuffle join when it must. Round-11 policy: force
    broadcast only on frames bounded by CONTRACT (dims, single-row aggs,
    literal spines, the decontamination eval set), never on SF-scaling
    tables."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@_register(
    "q5_local_supplier_volume",
    """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
""",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-way join. region/nation/supplier/customer are all dims —
    broadcast every one of them; the only shuffle left is the
    orders<->lineitem equi-join + final 1-key agg."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


@_register(
    "top_customers",
    """
SELECT c_custkey, c_name,
       round(sum(o_totalprice), 2) AS total_spend,
       count(*) AS n_orders
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spend DESC, c_custkey ASC
LIMIT 10
""",
)
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agg-then-broadcast-join: aggregate orders FIRST (15k -> 1.5k rows),
    then join the small result to customer — never join-then-agg when the
    agg collapses the fact side."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    per_cust = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "total_spend", "n_orders")
        .orderBy(F.col("total_spend").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


@_register(
    "order_rank_window",
    """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 3
""",
)
def order_rank_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via ranking window: one shuffle on the partition key,
    sort within partitions, no global sort."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "rn",
        )
    )


@_register(
    "rollup_sales",
    """
SELECT CASE WHEN grouping(l_returnflag) = 1 THEN 'ALL'
            ELSE coalesce(l_returnflag, '(null)') END AS returnflag,
       CASE WHEN grouping(l_linestatus) = 1 THEN 'ALL'
            ELSE coalesce(l_linestatus, '(null)') END AS linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       count(*) AS n_items
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
""",
)
def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP — Spark expands grouping sets in one
    pass with partial aggregation, not one job per level.

    The subtotal label comes from grouping(), NOT from coalescing the key:
    a bare coalesce(key, 'ALL') would make a genuinely-NULL group row
    IDENTICAL in its sort keys to the subtotal row (same 'ALL'/'ALL'
    labels, different aggregates), leaving the final ORDER BY with a tie
    whose resolution each engine picks arbitrarily — a hash divergence on
    any corpus with NULL group keys (tests/test_rollup_adversaries.py).
    Real NULL keys get their own '(null)' label instead."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").alias("__gf"),
            F.grouping("l_linestatus").alias("__gs"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            F.when(F.col("__gf") == 1, F.lit("ALL"))
            .otherwise(F.coalesce("l_returnflag", F.lit("(null)")))
            .alias("returnflag"),
            F.when(F.col("__gs") == 1, F.lit("ALL"))
            .otherwise(F.coalesce("l_linestatus", F.lit("(null)")))
            .alias("linestatus"),
            "sum_qty",
            "n_items",
        )
        .orderBy("returnflag", "linestatus")
    )


# ===========================================================================
# Events: time-series / sessionization / JSON
# ===========================================================================

@_register(
    "events_hourly",
    """
SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour, event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour batch aggregate (the batch twin of the streaming
    query below)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd HH:00:00").alias("hour"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy(
            F.col("hour").asc_nulls_last(), F.col("event_type").asc_nulls_last()
        )
    )


@_register(
    "events_sessions",
    f"""
WITH ordered AS (
  SELECT user_id, event_id, value, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id) AS prev_us
  FROM events
  WHERE ts IS NOT NULL
), flagged AS (
  SELECT user_id, event_id, value,
         CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM ordered
)
SELECT user_id,
       sum(new_session)::BIGINT AS n_sessions,
       count(*) AS n_events,
       round(sum({NUM.safe_decimal('value')}), 2)::DOUBLE AS sum_value
FROM flagged
GROUP BY user_id
ORDER BY user_id
""",
)
def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap: lag + flag + count
    per user. One shuffle on user_id serves both the window and the agg.

    Rows with a NULL event time are excluded at the scan (codegen
    filter, mirrored in the oracle): sessionization is undefined for an
    unknown time, and the engines disagree on where NULLs sort (Spark
    NULLS FIRST ascending, DuckDB NULLS LAST), so any answer that keeps
    them is engine-dependent — the round-8 temporal-adversary probe
    caught exactly that off-by-one on a corpus with one NULL ts."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .withColumn("us", F.unix_micros("ts"))
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.withColumn("prev_us", F.lag("us").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_us").isNull()
            | (F.col("us") - F.col("prev_us") > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    return (
        flagged.groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
            # exact decimal accumulation; double sums are order-dependent
            # and flip round() at sf>=0.1. safe_decimal: a corrupt
            # NaN/Inf/1e308 value must drop out of the sum, not kill the
            # job (round-8 numeric-adversary probe)
            F.round(F.sum(F.expr(NUM.safe_decimal("value"))), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy(F.col("user_id").asc_nulls_last())
    )


#: the one integer-string shape BOTH engines' JSON stacks agree on
#: (round-9 JSON adversary probe): optional minus then 1-18 digits.
#: Everything else in a numeric JSON slot is cross-engine poison —
#: DuckDB's ::BIGINT on a JSON value ROUNDS floats (1.9 -> 2) and
#: RAISES on strings/arrays/objects where Spark's lenient casts return
#: NULL (and Spark's ANSI CAST would kill the whole job on 'abc');
#: 19+-digit integers stringify as full digits in Spark but '1e23' in
#: DuckDB. Gating the STRING form on this regex before a now-safe CAST
#: makes every such value NULL in both engines by the same rule.
_JSON_INT_RE = "^-?[0-9]{1,18}$"


@_register(
    "events_json_stats",
    f"""
WITH g AS (
  SELECT event_type,
         CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS s
  FROM events
)
SELECT event_type,
       count(*) AS n,
       round(avg(k), 4) AS avg_k,
       max(k) AS max_k
FROM (
  SELECT event_type,
         CASE WHEN regexp_matches(s, '{_JSON_INT_RE}') THEN CAST(s AS BIGINT) END AS k
  FROM g
)
GROUP BY event_type
ORDER BY event_type
""",
)
def events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: JSON path -> typed column -> aggregate.
    get_json_object runs JVM-side; no Python in the loop.

    Hardened (round-9 JSON adversary probe): the path value is extracted
    as a STRING and admitted to the integer domain only through
    ``_JSON_INT_RE`` — a `{{"k": "abc"}}` row used to KILL the whole job
    under Spark's ANSI cast while the DuckDB oracle died on its own
    ::BIGINT, and a `{{"k": 1.9}}` row silently diverged (DuckDB rounds
    to 2, Spark nulls). Malformed JSON is NULL in Spark's lenient
    get_json_object and json_valid-guarded in the oracle; duplicate keys
    are safe here because BOTH engines' path extractors take the FIRST
    occurrence. Rows with a non-integer k still count in ``n`` — only
    the typed aggregates exclude them."""
    # ensure_parallelism (round 15 opt): JSON path extraction is per-row
    # CPU; a single-row-group input otherwise runs it on one task.
    # Measured interleaved A/B at sf0.1: 0.58 -> 0.39 s. Identity on any
    # multi-file input. Same guard on the other CPU-per-row scan entries
    # this round (variant extract, text metrics, tokenize/UDTF paths).
    ev = ensure_parallelism(_t(spark, sf_dir, "events"))
    s = F.get_json_object("props", "$.k")
    ev = ev.withColumn(
        "k", F.when(s.rlike(_JSON_INT_RE), s.cast("bigint"))
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy(F.col("event_type").asc_nulls_last())
    )


@_register(
    "streaming_events_hourly",
    # the streaming plan must reproduce the batch result exactly, so it
    # shares the batch oracle — minus rows with unknown event time:
    # Structured Streaming's event-time windowing drops NULL-ts rows by
    # construction (no window can contain them), so the oracle mirrors
    # the exclusion (round-8 temporal-adversary probe; batch
    # events_hourly keeps the NULL group — both engines agree there)
    """
SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour, event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def streaming_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window aggregate drained to a memory
    sink — must equal the batch events_hourly result exactly."""
    return hourly_counts(spark, sf_dir).orderBy(
            F.col("hour").asc_nulls_last(), F.col("event_type").asc_nulls_last()
        )


# ===========================================================================
# LLM-pipeline: dedup
# ===========================================================================

@_register(
    "dedup_exact",
    """
WITH ranked AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang, n_chars ORDER BY doc_id ASC) AS rn
  FROM documents
)
SELECT lang,
       count(*) AS n_docs,
       sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept
FROM ranked
GROUP BY lang
ORDER BY lang
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact subset-key dedup (keep smallest doc_id per key), reported as
    kept-vs-total per language.

    Shape note (round-8 NULL-key probe): this used to aggregate totals
    and kept-counts separately and equi-join them back on lang — which
    silently DROPPED the NULL-lang group (NULL never equi-joins NULL)
    while the oracle's single GROUP BY kept it. Now one window + one
    aggregation, mirroring the oracle: the rank and both counts ride the
    same shuffle, the join is gone entirely, and NULL-lang documents
    stay in the report (GROUP BY retains NULL keys identically in both
    engines). When joining on a group-out key that can be NULL, either
    eqNullSafe or restructure — plain equi-join loses rows without a
    whisper. The final sort is asc_nulls_last because the oracle's bare
    ORDER BY lang is DuckDB NULLS-LAST while Spark's default asc is
    NULLS-FIRST — on a NULL-lang corpus the engines would otherwise
    return the same rows in different orders (r8 ADVICE)."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "n_chars").orderBy(F.col("doc_id").asc())
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("__rn") == 1, 1).otherwise(0)).alias("n_kept"),
        )
        .orderBy(F.col("lang").asc_nulls_last())
    )


@_register(
    "dedup_fingerprint",
    f"""
WITH fp AS (
  SELECT doc_id, {text_analysis.fingerprint_expr('text', 'duckdb')} AS fingerprint
  FROM documents
)
SELECT fingerprint, count(*) AS group_size, min(doc_id) AS canonical_id
FROM fp
GROUP BY fingerprint
HAVING count(*) > 1
ORDER BY canonical_id
""",
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-fingerprint dedup: md5 over the sorted distinct token set
    finds word-order-insensitive duplicates; emit multi-member groups."""
    docs = _t(spark, sf_dir, "documents")
    fp = dedup.content_fingerprint(docs, "text")
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min("doc_id").alias("canonical_id"),
        )
        .filter(F.col("group_size") > 1)
        .orderBy(F.col("canonical_id").asc_nulls_last())
    )


@_register(
    "dedup_minhash",
    dedup.minhash_candidate_pairs_sql("documents", "doc_id", "text")
    + "\nORDER BY id_a, id_b",
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(12) + LSH(4 bands x 3) candidate pairs with estimated
    Jaccard. See operators/dedup.py for the scale analysis."""
    docs = _t(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, "doc_id", "text")
    return dedup.minhash_candidate_pairs(sig, "doc_id").orderBy("id_a", "id_b")


@_register(
    "dedup_simhash",
    f"""
WITH sh AS ({dedup.simhash_sql('documents', 'doc_id', 'text')})
SELECT simhash, count(*) AS group_size, min(doc_id) AS canonical_id
FROM sh
GROUP BY simhash
HAVING count(*) > 1
ORDER BY canonical_id
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-32 duplicate groups (equal signatures)."""
    docs = _t(spark, sf_dir, "documents")
    sh = dedup.simhash(docs, "doc_id", "text")
    return (
        sh.groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min("doc_id").alias("canonical_id"),
        )
        .filter(F.col("group_size") > 1)
        .orderBy(F.col("canonical_id").asc_nulls_last())
    )


@_register(
    "dedup_ngram_jaccard",
    similarity.ngram_jaccard_pairs_sql(
        "documents", "doc_id", "text", ("lang",), 0.6
    )
    + "\nORDER BY id_a, id_b",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-bigram Jaccard >= 0.6 for same-language pairs (blocked
    quadratic — exact complement to the MinHash approximation). The
    prefix-filter auto-dispatch size signal comes from parquet footer
    metadata (no count job in the plan-build path — round-12 advisor
    sweep); the in-operator count() remains only as the fallback for
    non-footer-readable sources."""
    docs = _t(spark, sf_dir, "documents")
    return similarity.ngram_jaccard_pairs(
        docs, "doc_id", "text", ("lang",), 0.6,
        n_docs=_footer_rows(sf_dir, "documents"),
    ).orderBy("id_a", "id_b")


# ===========================================================================
# LLM-pipeline: similarity search over embeddings
# ===========================================================================

@_register(
    "ann_topk_cosine",
    similarity.brute_force_topk_sql(
        f"(SELECT * FROM embeddings WHERE {similarity.well_formed_sql('embedding', 64)})",
        "vec_id % 100 = 0", "vec_id", "embedding", 5
    )
    + "\nORDER BY qid, rank",
)
def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the query subset (vec_id % 100 = 0).
    Query side broadcast; corpus scanned once, never shuffled. Malformed
    vectors (ragged/NULL/NaN/Inf — round-8 probe) are shed at the scan on
    both sides: a NaN cosine would diverge between the engines' orderings
    and can't be a meaningful neighbor anyway."""
    emb = similarity.well_formed_vectors(
        _t(spark, sf_dir, "embeddings"), "embedding", 64
    )
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return similarity.brute_force_topk(emb, queries, "vec_id", "embedding", 5).orderBy(
        "qid", "rank"
    )


# ===========================================================================
# LLM-pipeline: text analysis
# ===========================================================================

@_register(
    "text_quality",
    f"""
WITH m AS (
  SELECT lang,
         {text_analysis.doc_metrics_sql_exprs('text')['n_tokens']} AS n_tokens,
         {text_analysis.doc_metrics_sql_exprs('text')['distinct_ratio']} AS distinct_ratio,
         {text_analysis.doc_metrics_sql_exprs('text')['stopword_ratio']} AS stopword_ratio,
         {text_analysis.doc_metrics_sql_exprs('text')['avg_token_len']} AS avg_token_len
  FROM documents
)
SELECT lang,
       count(*) AS n_docs,
       round(avg(n_tokens), 4) AS avg_tokens,
       round(avg(distinct_ratio), 4) AS avg_distinct_ratio,
       round(avg(stopword_ratio), 4) AS avg_stopword_ratio,
       round(avg(avg_token_len), 4) AS avg_token_len
FROM m
GROUP BY lang
ORDER BY lang
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality profile from per-doc lexical metrics."""
    # NO ensure_parallelism here (round 15 opt tried it, A/B 0.39 ->
    # 0.29 s, then REVERTED): this entry averages FLOAT ratios under
    # round(.., 4), and repartitioning changes avg()'s partial-sum order
    # — on the dup-id adversary corpus the mean moved one ulp across a
    # 4th-decimal rounding boundary and diverged from the oracle
    # (test_dupid_adversaries[text_quality]). Exact-integer aggregates
    # (counts/int sums) are order-insensitive and keep the guard.
    docs = text_analysis.doc_metrics(_t(spark, sf_dir, "documents"), "text")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.round(F.avg("distinct_ratio"), 4).alias("avg_distinct_ratio"),
            F.round(F.avg("stopword_ratio"), 4).alias("avg_stopword_ratio"),
            F.round(F.avg("avg_token_len"), 4).alias("avg_token_len"),
        )
        .orderBy(F.col("lang").asc_nulls_last())
    )


@_register(
    "lang_id_confusion",
    f"""
SELECT lang AS labeled,
       {text_analysis.predicted_lang_expr('text', 'duckdb')} AS predicted,
       count(*) AS n
FROM documents
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-heuristic language ID vs the labeled lang column (confusion
    counts). Deterministic marker-word scoring, built-ins only."""
    # parallel CPU-heavy scan (round 15 opt, A/B 0.59 -> 0.39 s) — see
    # events_json_stats
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    pred = F.expr(text_analysis.predicted_lang_expr("text", "spark"))
    return (
        docs.select(F.col("lang").alias("labeled"), pred.alias("predicted"))
        .groupBy("labeled", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(
            F.col("labeled").asc_nulls_last(), F.col("predicted").asc_nulls_last()
        )
    )


@_register(
    "token_stats",
    f"""
WITH t AS (
  SELECT source,
         {text_analysis.doc_metrics_sql_exprs('text')['n_tokens']} AS n_tokens
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       sum(n_tokens)::BIGINT AS total_tokens,
       round(avg(n_tokens), 4) AS avg_tokens,
       max(n_tokens) AS max_tokens
FROM t
GROUP BY source
ORDER BY source
""",
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per source (whitespace/punct regex tokenizer)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens",
        F.expr(
            text_analysis._metrics_exprs("text", "spark")["n_tokens"]  # noqa: SLF001
        ),
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy(F.col("source").asc_nulls_last())
    )


@_register(
    "repetition_signals",
    text_analysis.repetition_signals_sql("documents", "text"),
)
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals (Gopher repetition rules):
    duplicate line / token / bigram / trigram fractions per document.
    One corpus pass, no explode, no shuffle; the helper arrays are bound
    projection columns (see text_analysis.repetition_frame for why
    inlining them is quadratic in document length)."""
    # parallel CPU-heavy scan (round 15 opt, A/B 1.37 -> 0.75 s) — see
    # events_json_stats
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    sig = list(text_analysis._repetition_signal_exprs("spark"))  # noqa: SLF001
    return (
        text_analysis.repetition_frame(docs, "text")
        .select("doc_id", *sig)
        .orderBy(F.col("doc_id").asc_nulls_last())
    )


@_register(
    "tfidf_top_terms",
    f"""
WITH toks AS (
  SELECT doc_id, unnest({TXT.tokens('text', 'duckdb')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(n.n::DOUBLE / df.df), 4) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tfidf, rank FROM (
  SELECT scored.*,
         row_number() OVER (PARTITION BY doc_id
           ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= 3
ORDER BY doc_id, rank
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic relevance/keyword
    extraction pass over a corpus.

    Scale shape: the token explode shuffles (doc, term) pairs; tf and df
    are map-side combinable, df derives from tf rows (no second
    countDistinct dedup shuffle over raw tokens), the df side joins back
    on the term key (dictionary-sized, not corpus-sized), and the corpus
    row count N arrives as a broadcast single-row cross join — standard
    distributed inverted-index construction. tf feeds two consumers
    (scores and df) and Catalyst does not reuse the subplan, so the
    explode+agg runs twice — a localCheckpoint here was used rounds
    8-11 and REMOVED after the same-session interleaved A/B at the x300
    probe point measured recompute at-or-below the checkpoint on wall
    (41.4/60.3 s vs 45.4/61.5 s) while the checkpoint's materialized
    (doc, term, tf) blocks degraded the NEXT workload ~10x even after
    the residue sweep (calib 1.66-1.77 after vs 0.13-0.20 clean) — the
    exact_substring_dup finding; see SCALE.md's round-11 session-3
    section. q11_important_parts keeps its checkpoint because there the
    materialized frame is dictionary-sized against a lineitem-scan
    recompute; here the frame GROWS with the corpus while the recompute
    is one cheap codegen explode. Ranking
    happens on the ROUNDED score (4 dp) with a term tiebreak in both
    dialects, so the oracle can never disagree on near-tie ordering."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.expr(TXT.tokens("text", "spark"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df derives from tf (one row per (doc, term) -> row count per term IS
    # the document frequency): saves the second corpus scan + explode the
    # naive countDistinct-over-tokens formulation costs
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df, "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .orderBy(F.col("doc_id").asc_nulls_last(), "rank")
    )


@_register(
    "dedup_keep_best",
    f"""
WITH d AS (
  SELECT doc_id,
         {text_analysis.fingerprint_expr('text', 'duckdb')} AS fp,
         {text_analysis.doc_metrics_sql_exprs('text')['distinct_ratio']} AS score
  FROM documents
),
r AS (
  SELECT d.*,
         row_number() OVER (PARTITION BY fp ORDER BY score DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY fp) AS n_copies
  FROM d
)
SELECT doc_id AS survivor_id, n_copies, score
FROM r WHERE rn = 1 AND n_copies > 1
ORDER BY survivor_id
""",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivor selection: within each exact-content
    cluster (word-order-independent fingerprint), keep the copy with the
    highest lexical-diversity score (ties to the smallest doc_id) — the
    'which duplicate do we keep' decision of a real corpus pipeline,
    complementing dedup_exact's min-id survivor rule.

    Scale shape: one fingerprint-key shuffle; the survivor falls out of a
    map-side-combinable max_by argmax (no per-cluster sort, unlike the
    oracle's row_number formulation — same result, better plan)."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.expr(text_analysis.fingerprint_expr("text", "spark")).alias("fp"),
        F.expr(
            text_analysis._metrics_exprs("text", "spark")[  # noqa: SLF001
                "distinct_ratio"
            ]
        ).alias("score"),
    )
    return (
        d.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            # smallest-id tie-break via bitwise NOT, not negation:
            # ~id = -id - 1 reverses int64 order bijectively with NO
            # overflow, while -id raises at min-int64 under ANSI — one
            # hash-derived edge id killed the query (round-9 id-domain
            # probe)
            F.max_by(
                F.struct("doc_id", "score"),
                F.struct(F.col("score"), F.bitwise_not(F.col("doc_id")).alias("neg")),
            ).alias("best"),
        )
        .filter(F.col("n_copies") > 1)
        .select(
            F.col("best.doc_id").alias("survivor_id"),
            "n_copies",
            F.col("best.score").alias("score"),
        )
        .orderBy(F.col("survivor_id").asc_nulls_last())
    )


@_register(
    "stratified_topk_sample",
    f"""
SELECT doc_id, lang, sample_rank FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
           ORDER BY {TXT.md5_int32('doc_id::VARCHAR', 'duckdb')} ASC,
                    doc_id ASC) AS sample_rank
  FROM documents
) WHERE sample_rank <= 5
ORDER BY lang, sample_rank
""",
)
def stratified_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k deterministic sample per stratum: 5 documents per language,
    ranked by a content-addressed hash (md5 of the id) — reproducible
    anywhere with no rand() and no assignment table, complementing
    stratified_sample_split's ratio-based bucketing. Growing the corpus
    only displaces ranks locally; a doc's hash never changes.

    Scale shape: one shuffle on the stratum key; top-k per partition via
    row_number, which AQE executes with partial per-task top-k pruning."""
    docs = _t(spark, sf_dir, "documents")
    hsh = F.expr(TXT.md5_int32("cast(doc_id as string)", "spark"))
    # asc_nulls_last on BOTH window keys: a NULL doc_id hashes to a NULL
    # rank key, and Spark's default NULLS-FIRST would pull those rows INTO
    # the top-k sample while the oracle's DuckDB NULLS-LAST excludes them —
    # different docs selected, a value divergence, not just row order
    # (round-9 NULL-key ordering probe)
    w = Window.partitionBy("lang").orderBy(
        hsh.asc_nulls_last(), F.col("doc_id").asc_nulls_last()
    )
    return (
        docs.select("doc_id", "lang")
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= 5)
        .orderBy(F.col("lang").asc_nulls_last(), "sample_rank")
    )


@_register(
    "chunk_documents",
    text_analysis.chunk_documents_sql("documents", "text")
    + "\nORDER BY doc_id, chunk_id",
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-token training chunks per document (50 tokens,
    stride 40) — the chunking step that precedes sequence packing. Pure
    generate-and-explode over the scan; chunk geometry is exact integer
    math shared with the oracle, content carried as an md5 hash."""
    docs = _t(spark, sf_dir, "documents")
    return text_analysis.chunk_documents(docs, "text").orderBy(
        F.col("doc_id").asc_nulls_last(), "chunk_id"
    )


#: documents with doc_id % DECONTAM_STRIDE == 0 stand in for a held-out
#: evaluation set; everything else is training corpus.
DECONTAM_STRIDE = 97
DECONTAM_MIN_OVERLAP = 0.4
#: the 8-gram entry's operating point: 8-token shingles (the production
#: size — bigrams have background overlap, 8-grams are near-unique), a
#: 10% held-out slice (doc_id % 10 == 8 — chosen so the fixture's
#: near-duplicate pairs straddle the split at every sf), and a low cut
#: (8-gram background overlap is ~zero, so any meaningful overlap flags).
DECONTAM8_MIN_OVERLAP = 0.05


def _decontam_plan(
    docs: DataFrame, grams: "F.Column", is_bench: "F.Column", min_overlap: float
) -> DataFrame:
    """Shared decontamination plan: eval-set shingles aggregated once and
    BROADCAST; the training corpus (the 100 TB side) streams through a
    broadcast join + per-doc count and is never shuffled.

    Single-pass shape: the corpus postings LEFT-join the (distinct,
    broadcast) eval-gram set with a hit marker, and ONE per-doc aggregate
    computes both n_grams (count) and n_hit (sum of markers) — the
    distinct right side cannot fan rows out, so the count stays exact.
    The earlier two-branch formulation (separate total and semi-join-hit
    aggregates joined back on doc_id) evaluated the shingle explode
    twice on the corpus side; at the 8-gram operating point that explode
    is the dominant cost (~10 s of the entry's bench time at sf0.1), so
    halving it is the difference between the entry being the suite's
    slowest and ordinary.

    explode_outer + an explicit null filter instead of plain explode:
    InferFiltersFromGenerate turns an inner explode into a pushed-down
    ``size(grams) > 0`` predicate whose pushdown INLINES the whole
    tokenize+shingle expression — including the tokenizer inside the
    per-position slice lambda, i.e. the quadratic HOF-inlining trap all
    over again, below the very Project that bound __toks to avoid it.
    The rule skips outer generates; filtering the GENERATED attribute
    afterwards touches only post-explode rows."""
    g = docs.select("doc_id", grams.alias("__g"), is_bench.alias("__b"))
    corpus = (
        g.filter(~F.col("__b"))
        .select("doc_id", F.explode_outer("__g").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    bench = F.broadcast(
        g.filter(F.col("__b"))
        .select(F.explode_outer("__g").alias("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    per_doc = (
        corpus.join(bench, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("__hit"), F.lit(0)).alias("n_hit"),
        )
    )
    overlap = F.round(
        F.col("n_hit").cast("double") / F.col("n_grams"), 4
    ).alias("overlap")
    return (
        per_doc.select("doc_id", "n_grams", "n_hit", overlap)
        .filter(F.col("overlap") >= min_overlap)
        .orderBy(F.col("doc_id").asc_nulls_last())
    )


@_register(
    "decontamination_overlap",
    f"""
WITH g AS (
  SELECT doc_id, unnest(list_distinct({TXT.word_bigrams(TXT.tokens('text', 'duckdb'), 'duckdb')})) AS g
  FROM documents WHERE doc_id % {DECONTAM_STRIDE} != 0
),
b AS (
  SELECT DISTINCT unnest(list_distinct({TXT.word_bigrams(TXT.tokens('text', 'duckdb'), 'duckdb')})) AS g
  FROM documents WHERE doc_id % {DECONTAM_STRIDE} = 0
),
tot AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
hit AS (SELECT g.doc_id, count(*) AS n_hit FROM g JOIN b USING (g) GROUP BY g.doc_id)
SELECT t.doc_id, t.n_grams, coalesce(h.n_hit, 0) AS n_hit,
       round(coalesce(h.n_hit, 0)::DOUBLE / t.n_grams, 4) AS overlap
FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
WHERE round(coalesce(h.n_hit, 0)::DOUBLE / t.n_grams, 4) >= {DECONTAM_MIN_OVERLAP}
ORDER BY t.doc_id
""",
)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents whose n-gram
    shingles overlap a held-out evaluation set — the standard guard
    against test-set leakage in LLM training corpora (here word bigrams;
    production pipelines use 8-13-gram shingles, same plan).

    Plan shape: the eval set's distinct shingles are aggregated once and
    BROADCAST (eval sets are millions of grams, not billions) so the
    training corpus — the 100 TB side — is never shuffled: each doc's
    grams stream through a broadcast-hash semi-join and a per-doc count.
    Overlap = |doc grams ∩ eval grams| / |doc grams|; only flagged docs
    (>= 40% overlap — the fixture's bigram vocabulary is small, so the
    cut sits above its p95 background overlap; real shingle sizes of
    8-13 make near-zero background and a much lower cut) leave the
    executor."""
    docs = _t(spark, sf_dir, "documents").withColumns(
        {"__toks": F.expr(TXT.tokens("text", "spark"))}
    )
    grams = F.expr(f"array_distinct({TXT.word_bigrams('__toks', 'spark')})")
    return _decontam_plan(
        docs,
        grams,
        F.col("doc_id") % DECONTAM_STRIDE == 0,
        DECONTAM_MIN_OVERLAP,
    )


@_register(
    "decontamination_overlap_8gram",
    f"""
WITH tk AS (
  -- tokens BOUND once per row: the ngram lambda's element accesses
  -- would otherwise re-run the tokenizer per position — quadratic on a
  -- megabyte document (round-9 huge-doc probe)
  SELECT doc_id, {TXT.tokens('text', 'duckdb')} AS __toks FROM documents
),
g AS (
  SELECT doc_id, unnest(list_distinct({TXT.word_ngrams('__toks', 8, 'duckdb')})) AS g
  FROM tk WHERE doc_id % 10 != 8
),
b AS (
  SELECT DISTINCT unnest(list_distinct({TXT.word_ngrams('__toks', 8, 'duckdb')})) AS g
  FROM tk WHERE doc_id % 10 = 8
),
tot AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
hit AS (SELECT g.doc_id, count(*) AS n_hit FROM g JOIN b USING (g) GROUP BY g.doc_id)
SELECT t.doc_id, t.n_grams, coalesce(h.n_hit, 0) AS n_hit,
       round(coalesce(h.n_hit, 0)::DOUBLE / t.n_grams, 4) AS overlap
FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
WHERE round(coalesce(h.n_hit, 0)::DOUBLE / t.n_grams, 4) >= {DECONTAM8_MIN_OVERLAP}
ORDER BY t.doc_id
""",
)
def decontamination_overlap_8gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination at the PRODUCTION operating point: 8-token shingles
    (the 8-13-gram size real pipelines use — see Brown et al., GPT-3
    appendix C for the 13-gram variant), a 10% held-out eval slice, and a
    low flag threshold, because 8-gram background overlap is near zero —
    any hit means verbatim passage sharing. Same broadcast-semi-join plan
    as decontamination_overlap (the bigram entry pins the high-background
    regime; this one pins the sparse-hit regime where most training docs
    have n_hit = 0 and only true near-dups across the split get flagged)."""
    # __toks is BOUND before the shingle transform: word_ngrams' slice
    # lives inside a per-position lambda, and an inlined tokenizer there
    # re-evaluates per shingle — quadratic in document length (the
    # HOF-inlining trap window_hashes documents)
    docs = _t(spark, sf_dir, "documents").withColumns(
        {"__toks": F.expr(TXT.tokens("text", "spark"))}
    )
    grams = F.expr(f"array_distinct({TXT.word_ngrams('__toks', 8, 'spark')})")
    return _decontam_plan(
        docs,
        grams,
        F.col("doc_id") % 10 == 8,
        DECONTAM8_MIN_OVERLAP,
    )


#: exact-substring duplication: shingle size (the 8-13-gram range real
#: pipelines use — 8-gram background collision is near zero, so cross-doc
#: sharing means verbatim passage reuse) and the flag threshold (fixture
#: near-dups share essentially ALL their passages, so any cut between the
#: background 0 and ~1 selects the same 47 docs at sf0.01; 0.2 is the
#: documented production-ish operating point).
EXSUB_N = 8
EXSUB_MIN_DUP_FRAC = 0.2


def _exsub_grams(docs: DataFrame) -> DataFrame:
    """Per-doc distinct EXSUB_N-gram postings, one row per (doc_id, g).

    Module-level (not inlined in exact_substring_dup) so the plan tests
    can assert its shape in isolation (it was hidden from the query's
    final explain while a localCheckpoint truncated lineage there,
    rounds 9-11).
    explode_outer + null filter, not plain explode: see _decontam_plan —
    InferFiltersFromGenerate would push a size()>0 predicate that
    re-inlines the tokenizer into the shingle lambda (quadratic).
    Expects ``__toks`` already bound on ``docs``.
    """
    return docs.select(
        "doc_id",
        F.explode_outer(
            F.expr(
                f"array_distinct({TXT.word_ngrams('__toks', EXSUB_N, 'spark')})"
            )
        ).alias("g"),
    ).filter(F.col("g").isNotNull())


@_register(
    "exact_substring_dup",
    f"""
WITH tk AS (
  -- bound tokens; inline tokenizer in the ngram lambda is quadratic on
  -- huge documents (see decontamination_overlap_8gram)
  SELECT doc_id, {TXT.tokens('text', 'duckdb')} AS __toks FROM documents
),
g AS (
  SELECT doc_id, unnest(list_distinct({TXT.word_ngrams('__toks', EXSUB_N, 'duckdb')})) AS g
  FROM tk
),
df AS (SELECT g, count(*) AS df FROM g GROUP BY g),
dup AS (SELECT g FROM df WHERE df >= 2),
tot AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
hit AS (SELECT g.doc_id, count(*) AS n_dup FROM g JOIN dup USING (g) GROUP BY g.doc_id)
SELECT t.doc_id, t.n_grams, coalesce(h.n_dup, 0) AS n_dup,
       round(coalesce(h.n_dup, 0)::DOUBLE / t.n_grams, 4) AS dup_frac
FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
WHERE round(coalesce(h.n_dup, 0)::DOUBLE / t.n_grams, 4) >= {EXSUB_MIN_DUP_FRAC}
ORDER BY t.doc_id
""",
)
def exact_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-passage detection — the corpus-internal
    complement to decontamination (which compares against a held-out
    set). Flags documents whose 8-token shingles largely also appear in
    OTHER documents: the ExactSubstr signal of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499), which catches boilerplate and syndicated passages
    that whole-document fingerprints miss because the surrounding text
    differs.

    Plan shape at 100 TB: one shingle explode shuffled on the gram
    string (map-side combinable counts; per-doc grams are pre-distinct'd
    so a gram's row count IS its document frequency). The postings feed
    exactly TWO consumers since the subtraction rewrite (the gram-stats
    agg and the per-doc totals), and both are re-derived from the scan
    rather than from a localCheckpoint: the checkpoint materialized the
    full posting stream (~40 GB at the x300 probe point) into executor
    block storage, and the measured same-session interleaved A/B at x300
    was recompute 86-97 s vs checkpoint 123-127 s — PLUS the checkpoint
    blocks' async unpersist degraded the next workload 6-25x (calib
    0.12-0.52 after recompute vs 2.95-3.06 after checkpoint), one of the
    order-effect residue mechanisms SCALE.md's bench-noise section
    documents. Tokenize+shingle is cheap codegen; running it twice beats
    storing its output once the stream outgrows the page cache. Suffix
    automata are the paper's single-machine tool; at corpus scale the
    fixed-width shingle join is the standard distributed approximation
    (it finds every duplicated run of >= 8 tokens, positioned by its
    covering shingles)."""
    # token array BOUND before the shingle lambda (HOF-inlining trap —
    # see decontamination_overlap_8gram / window_hashes)
    # parallel CPU-heavy scan (round 15 opt, A/B 1.15 -> 0.90 s) — see
    # events_json_stats
    docs = ensure_parallelism(_t(spark, sf_dir, "documents")).withColumns(
        {"__toks": F.expr(TXT.tokens("text", "spark"))}
    )
    grams = _exsub_grams(docs)
    # n_dup by SUBTRACTION, not by joining the duplicated grams back to
    # the postings: n_dup(doc) = n_grams(doc) - #(df == 1 grams owned by
    # doc), and a df == 1 gram's owner is recoverable from the df
    # aggregation itself (min(doc_id) of a single-posting group IS the
    # posting's doc). The former left-semi join re-shuffled the full
    # posting stream on the gram string a SECOND time — ~300M postings x
    # ~50-byte keys at the x300 probe point, where the entry measured
    # alpha(100->300) = 1.51, the worst shape in the batch families —
    # while the singles aggregation here ships at most one slim
    # (owner, count) row per distinct gram.
    gstats = grams.groupBy("g").agg(
        F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("__owner")
    )
    uniq = (
        gstats.filter(F.col("df") == 1)
        .groupBy(F.col("__owner").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_uniq"))
    )
    tot = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    n_dup = (
        F.col("n_grams") - F.coalesce(F.col("n_uniq"), F.lit(0))
    ).alias("n_dup")
    dup_frac = F.round(
        (F.col("n_grams") - F.coalesce(F.col("n_uniq"), F.lit(0))).cast(
            "double"
        )
        / F.col("n_grams"),
        4,
    ).alias("dup_frac")
    return (
        tot.join(uniq, "doc_id", "left")
        .select("doc_id", "n_grams", n_dup, dup_frac)
        .filter(F.col("dup_frac") >= EXSUB_MIN_DUP_FRAC)
        .orderBy(F.col("doc_id").asc_nulls_last())
    )


#: context-window budget for sequence packing (tokens per packed sequence)
PACKING_BUDGET = 512


@_register(
    "token_budget_packing",
    f"""
WITH t AS (
  SELECT lang, doc_id,
         {text_analysis.doc_metrics_sql_exprs('text')['n_tokens']} AS n_tokens
  FROM documents
),
c AS (
  SELECT lang, doc_id, n_tokens,
         (sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS start_off
  FROM t
)
SELECT lang, start_off // {PACKING_BUDGET} AS seq_id,
       count(*) AS n_docs,
       sum(n_tokens)::BIGINT AS seq_tokens
FROM c
GROUP BY lang, start_off // {PACKING_BUDGET}
ORDER BY lang, seq_id
""",
)
def token_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (concat-and-chunk): assign documents
    to fixed-budget context windows by their running token offset — the
    deterministic packing step that turns a cleaned corpus into training
    sequences. A doc belongs to the window its START offset falls in.

    Plan shape: one window cumsum per packing stream (here lang; real
    pipelines key by (shard, lang) so no stream outgrows one task's
    sort), then a plain aggregate — both map-side combinable after the
    single per-stream shuffle. Content order is doc_id, so the packing
    is reproducible run-to-run regardless of partitioning."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens",
        F.expr(
            text_analysis._metrics_exprs("text", "spark")["n_tokens"]  # noqa: SLF001
        ),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("doc_id").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start_off = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_off")
    return (
        docs.select("lang", "doc_id", "n_tokens", start_off)
        .withColumn(
            "seq_id", F.floor(F.col("start_off") / PACKING_BUDGET)
        )
        .groupBy("lang", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
        )
        .orderBy(F.col("lang").asc_nulls_last(), "seq_id")
    )


# ===========================================================================
# Multimodal plumbing (mapInPandas over binary payloads)
# ===========================================================================

@_register(
    "multimodal_features",
    """
SELECT d.source,
       count(*) AS n_docs,
       sum(octet_length(encode(d.text)))::BIGINT AS total_bytes,
       round(avg(CASE WHEN d.text = '' THEN -1
                 ELSE ('0x' || substring(to_hex(encode(substring(d.text, 1, 1))), 1, 2))::INT
            END), 4) AS avg_first_byte
FROM documents d
WHERE d.text IS NOT NULL
GROUP BY d.source
ORDER BY d.source
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: attach payload -> Arrow-batched mapInPandas
    feature extraction -> join metadata -> aggregate. The decode step is a
    deterministic stand-in (container has no codecs); the plumbing is real.

    Binary corrupt-row policy: NULL payloads (unreadable media) are
    excluded — here as a pushed-down scan filter (and again inside the
    kernel for library callers), in the oracle as the WHERE. The oracle
    models BYTES, not code points: the first byte of a UTF-8 document is
    its lead byte (0xF0 for an emoji), which `ascii(substr(text,1,1))`
    would silently misreport as the code point, and the empty payload is
    the kernel's -1 sentinel where `ascii('')` is 0 — both pinned by
    tests/test_binary_adversaries.py."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # `source` rides through the Arrow stage (carry_cols) instead of a
    # features-back-to-docs self-join — one Arrow column copy replaces
    # two full shuffles of the corpus
    feats = extract_binary_features(
        with_binary_payload(docs, "text"), "doc_id", carry_cols=("source",)
    )
    return (
        feats.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("byte_len").alias("total_bytes"),
            F.round(F.avg("first_byte"), 4).alias("avg_first_byte"),
        )
        .orderBy(F.col("source").asc_nulls_last())
    )


# ===========================================================================
# Dataset layer inside the correctness gate
# ===========================================================================

@_register(
    "hive_roundtrip",
    """
SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
FROM documents
GROUP BY lang
ORDER BY lang
""",
)
def hive_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents through HiveDataset (partitioned by lang, dynamic
    overwrite), scan back, aggregate — proving the storage layer preserves
    data exactly."""
    docs = _t(spark, sf_dir, "documents")
    tmp = work_dir(spark, "hive_roundtrip")
    ds = HiveDataset(spark, f"{tmp}/docs", ["lang"])
    ds.write(docs)
    back = ds.scan()
    if back is None:  # zero input rows write zero fragments; scan() is
        # None by the reference's empty-dataset contract — degrade to an
        # empty aggregate instead of raising
        return spark.createDataFrame(
            [], "lang string, n_docs bigint, total_chars bigint"
        )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy(F.col("lang").asc_nulls_last())
    )


# ===========================================================================
# Relational coverage, batch 2: semi/anti joins, set ops, pivot, cube,
# grouping sets, percentiles, correlated-subquery shapes, as-of join,
# sliding windows, embedding stats
# ===========================================================================

@_register(
    "q4_order_priority",
    """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-07-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS -> left-semi join. The semi join shuffles only
    orderkeys, never duplicates orders rows."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > F.expr("o_orderdate + INTERVAL 60 DAY")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@_register(
    "customers_without_urgent_orders",
    """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS -> left-anti join, counted per segment. The filter lands
    on the orders scan before the anti join shuffles anything."""
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.col("c_mktsegment").asc_nulls_last())
    )


@_register(
    "parts_set_ops",
    """
SELECT
  (SELECT count(*) FROM
     (SELECT DISTINCT l_partkey FROM lineitem
      EXCEPT
      SELECT p_partkey FROM part WHERE p_size > 40)) AS sold_not_large,
  (SELECT count(*) FROM
     (SELECT DISTINCT l_partkey FROM lineitem
      INTERSECT
      SELECT p_partkey FROM part WHERE p_size > 40)) AS sold_and_large
""",
)
def parts_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT / INTERSECT set operators (hash-based distinct set ops)."""
    sold = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk")
    ).distinct()
    large = _t(spark, sf_dir, "part").filter(F.col("p_size") > 40).select(
        F.col("p_partkey").alias("pk")
    )
    a = sold.exceptAll(large).distinct().agg(
        F.count(F.lit(1)).alias("sold_not_large")
    )
    b = sold.intersect(large).agg(F.count(F.lit(1)).alias("sold_and_large"))
    return a.crossJoin(b)


@_register(
    "pivot_returnflag",
    """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus into columns; explicit value list avoids the extra
    distinct-values job Spark otherwise runs."""
    li = _t(spark, sf_dir, "lineitem")
    pivoted = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
        # NULLS LAST: a NULL returnflag group must sort where the oracle's
        # DuckDB ORDER BY puts it (tests/test_rollup_adversaries.py)
        .orderBy(F.col("l_returnflag").asc_nulls_last())
    )
    return pivoted


@_register(
    "cube_sales",
    """
SELECT CASE WHEN grouping(l_returnflag) = 1 THEN 'ALL'
            ELSE coalesce(l_returnflag, '(null)') END AS returnflag,
       CASE WHEN grouping(l_linestatus) = 1 THEN 'ALL'
            ELSE coalesce(l_linestatus, '(null)') END AS linestatus,
       grouping(l_returnflag) AS g_flag,
       grouping(l_linestatus) AS g_status,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus, g_flag, g_status
""",
)
def cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping() indicators — all 4 grouping sets in one pass.

    Labels use the indicators, not bare coalesce: a real-NULL group must
    read '(null)', never collide with the subtotal's 'ALL' (the g_flag /
    g_status sort keys already kept this entry order-stable, but the label
    conflation itself is the bug — see rollup_sales)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").alias("g_flag"),
            F.grouping("l_linestatus").alias("g_status"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .select(
            F.when(F.col("g_flag") == 1, F.lit("ALL"))
            .otherwise(F.coalesce("l_returnflag", F.lit("(null)")))
            .alias("returnflag"),
            F.when(F.col("g_status") == 1, F.lit("ALL"))
            .otherwise(F.coalesce("l_linestatus", F.lit("(null)")))
            .alias("linestatus"),
            "g_flag",
            "g_status",
            "sum_price",
        )
        .orderBy("returnflag", "linestatus", "g_flag", "g_status")
    )


@_register(
    "grouping_sets_priority",
    """
SELECT CASE WHEN grouping(o_orderstatus) = 1 THEN 'ALL'
            ELSE coalesce(o_orderstatus, '(null)') END AS status,
       CASE WHEN grouping(o_orderpriority) = 1 THEN 'ALL'
            ELSE coalesce(o_orderpriority, '(null)') END AS priority,
       count(*) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY status, priority
""",
)
def grouping_sets_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL API (same Catalyst plan as
    the DataFrame route). Subtotal labels come from grouping(), so a
    real-NULL status/priority group stays distinct from the placeholder
    rows and the final sort is tie-free (see rollup_sales)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT CASE WHEN grouping(o_orderstatus) = 1 THEN 'ALL'
                    ELSE coalesce(o_orderstatus, '(null)') END AS status,
               CASE WHEN grouping(o_orderpriority) = 1 THEN 'ALL'
                    ELSE coalesce(o_orderpriority, '(null)') END AS priority,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority
        """
    )


@_register(
    "price_percentiles",
    """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
       round(quantile_cont(o_totalprice, 0.9), 2) AS p90_price,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont`). At 100 TB switch to percentile_approx — noted here
    because the exact form requires a per-group sort."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            # one percentile(..., array(...)) buffers each group's values
            # ONCE for both quantiles; two scalar percentile calls would
            # maintain two independent full-group buffers
            F.expr("percentile(o_totalprice, array(0.5, 0.9))").alias("__p"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .select(
            "o_orderstatus",
            F.round(F.element_at("__p", 1), 2).alias("median_price"),
            F.round(F.element_at("__p", 2), 2).alias("p90_price"),
            "min_price",
            "max_price",
        )
        .orderBy(F.col("o_orderstatus").asc_nulls_last())
    )


@_register(
    "price_above_brand_avg",
    """
SELECT p_brand, count(*) AS n_above,
       round(avg(p_retailprice), 2) AS avg_above_price
FROM (
  SELECT p_brand, p_retailprice,
         avg(p_retailprice) OVER (PARTITION BY p_brand) AS brand_avg
  FROM part
) WHERE p_retailprice > brand_avg
GROUP BY p_brand
ORDER BY p_brand
""",
)
def price_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery shape via an analytic window (one shuffle
    on brand instead of a per-row subquery)."""
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    return (
        part.withColumn("brand_avg", F.avg("p_retailprice").over(w))
        .filter(F.col("p_retailprice") > F.col("brand_avg"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            F.round(F.avg("p_retailprice"), 2).alias("avg_above_price"),
        )
        .orderBy("p_brand")
    )


@_register(
    "asof_click_before_purchase",
    """
WITH tagged AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS click_us
  FROM events
  WHERE event_type IN ('click', 'purchase') AND ts IS NOT NULL
), enriched AS (
  SELECT user_id, event_id, event_type, us,
         last_value(click_us IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_click_us
  FROM tagged
)
SELECT user_id, event_id AS purchase_id, prev_click_us,
       us - prev_click_us AS gap_us
FROM enriched
WHERE event_type = 'purchase'
ORDER BY user_id, purchase_id
""",
)
def asof_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (most recent click before each purchase, per user) as a
    single merge-carry window — no join at all, one shuffle on user_id.
    Spark lacks a native as-of join; this composition IS the scalable form.

    NULL event times are excluded at the scan (mirrored in the oracle):
    "as of an unknown time" is undefined, and the engines disagree on
    where a NULL ordering key sits in the window frame (Spark NULLS
    FIRST, DuckDB NULLS LAST), so a NULL-ts purchase would get a
    different prev_click per engine — tests/test_asof_window_adversaries.py."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .filter(F.col("ts").isNotNull())
        .withColumn("us", F.unix_micros("ts"))
        .withColumn(
            "click_us", F.when(F.col("event_type") == "click", F.col("us"))
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ev.withColumn("prev_click_us", F.last("click_us", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            "prev_click_us",
            (F.col("us") - F.col("prev_click_us")).alias("gap_us"),
        )
        .orderBy("user_id", "purchase_id")
    )


@_register(
    "sliding_window_counts",
    """
SELECT window_start_us, event_type, count(*) AS n
FROM (
  SELECT unnest([
           epoch_us(ts) - epoch_us(ts) % 3600000000,
           epoch_us(ts) - epoch_us(ts) % 3600000000 - 3600000000
         ]) AS window_start_us,
         event_type
  FROM events
)
GROUP BY window_start_us, event_type
ORDER BY window_start_us, event_type
""",
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h size, 1h slide) in batch: each event explodes
    into its 2 covering windows — the same expansion Spark's streaming
    window() operator performs."""
    ev = _t(spark, sf_dir, "events").withColumn("us", F.unix_micros("ts"))
    hour = F.col("us") - F.col("us") % F.lit(3_600_000_000)
    return (
        ev.withColumn(
            "window_start_us",
            F.explode(F.array(hour, hour - F.lit(3_600_000_000))),
        )
        .groupBy("window_start_us", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        # NULL-ts events land in a NULL window group (identically in both
        # engines — NULL propagates through the modulo arithmetic); the
        # sort must agree on where that group goes (DuckDB: NULLS LAST)
        .orderBy(
            F.col("window_start_us").asc_nulls_last(),
            F.col("event_type").asc_nulls_last(),
        )
    )


@_register(
    "embedding_norm_stats",
    f"""
SELECT label,
       count(*) AS n_vecs,
       round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4) AS avg_norm,
       round(min(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4) AS min_norm,
       round(max(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4) AS max_norm
FROM embeddings
WHERE {similarity.well_formed_sql('embedding', 64)}
GROUP BY label
ORDER BY label
""",
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column profiling: L2 norms via higher-order functions, grouped
    by label.

    Profiles the WELL-FORMED corpus (round-9 huge-magnitude probe): a
    finite-but-huge float32 component (3e38 passes ``isfinite``) makes
    the per-label norm sums order-sensitive at the digits round(,4)
    preserves — Spark's partial-agg combine and DuckDB's scan order each
    produce a different last-ulp avg, a cross-engine (and run-to-run)
    hash flip. ``well_formed_vectors`` sheds those rows with the
    identical predicate in the oracle; on any real embedding corpus the
    filter is the identity (zero vectors stay and report norm 0)."""
    from polario_spark.functions import vector as VEC

    emb = similarity.well_formed_vectors(
        _t(spark, sf_dir, "embeddings"), "embedding", 64
    ).withColumn("nrm", F.expr(VEC.norm("embedding", "spark")))
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
            F.round(F.min("nrm"), 4).alias("min_norm"),
            F.round(F.max("nrm"), 4).alias("max_norm"),
        )
        .orderBy(F.col("label").asc_nulls_last())
    )


@_register(
    "distinct_counts",
    """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_suppliers,
       count(DISTINCT l_orderkey) AS n_orders
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column distinct aggregation (expand + two-phase agg in Spark).
    At 100 TB prefer approx_count_distinct (HLL) — exact form kept here
    because the oracle must match exactly."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
        .orderBy(F.col("l_returnflag").asc_nulls_last())
    )


# ===========================================================================
# Relational coverage, batch 3: scan-heavy aggregates, outer-join
# distributions, OR-of-ANDs pushdown, decile stats, Python UDF surface
# (pandas_udf grouped agg + applyInPandas), and the LLM-pipeline scale
# paths: embedding-cosine near-dup, IVF ANN, rolling-window fingerprints
# ===========================================================================

@_register(
    "q6_forecast_revenue",
    """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter+aggregate. Every predicate reaches the parquet
    scan (PushedFilters); the agg is a single map-side partial sum."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


@_register(
    "q13_order_count_distribution",
    """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left-outer join keeps zero-order customers, then a
    two-level aggregation (per-customer count, then histogram). The first
    agg rides the join shuffle's partitioning; the second shuffles only
    the histogram keys."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@_register(
    "q18_large_orders",
    """
SELECT c_name, o_orderkey, o_totalprice, total_qty FROM (
  SELECT c.c_name, o.o_orderkey, round(o.o_totalprice, 2) AS o_totalprice,
         round(l.s, 2) AS total_qty
  FROM (SELECT l_orderkey, sum(l_quantity) AS s
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150) l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
)
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING on a grouped sum feeds a join back to
    orders/customer. The heavy lineitem agg runs first and its (small)
    survivor set drives broadcast joins; top-100 keeps output bounded at
    any scale factor."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__s"))
        .filter(F.col("__s") > 150)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("__s", 2).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@_register(
    "q19_discounted_revenue",
    """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
""",
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides. Catalyst
    extracts the common p_brand IN (...) / l_quantity range as pushable
    scan filters; part is broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


@_register(
    "q22_idle_customers",
    """
SELECT n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS total_bal
FROM customer
JOIN nation ON n_nationkey = c_nationkey
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1998-01-01')
GROUP BY n_name
ORDER BY n_name
""",
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (global avg, computed once and
    broadcast as a literal-like single-row join) + anti join against
    recent orders, grouped by nation (broadcast dim)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("n_name")
    )


@_register(
    "geomean_brand_price",
    """
SELECT p_brand, round(exp(avg(ln(p_retailprice))), 2) AS geo_mean_price
FROM part
GROUP BY p_brand
ORDER BY p_brand
""",
)
def geomean_brand_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (Arrow-batched UDAF surface): geometric
    mean of retail price per brand. The UDF receives each group's column
    as one numpy-backed series — vectorized, no per-row Python."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def geo_mean(prices: pd.Series) -> float:
        return float(np.exp(np.log(prices.to_numpy()).mean()))

    part = _t(spark, sf_dir, "part")
    return (
        part.groupBy("p_brand")
        .agg(F.round(geo_mean("p_retailprice"), 2).alias("geo_mean_price"))
        .orderBy("p_brand")
    )


@_register(
    "brand_price_zscore_top",
    """
SELECT p_brand, p_partkey, z FROM (
  SELECT p_brand, p_partkey,
         round((p_retailprice - avg(p_retailprice) OVER (PARTITION BY p_brand))
               / stddev_pop(p_retailprice) OVER (PARTITION BY p_brand), 4) AS z,
         row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
  FROM part
)
WHERE rn = 1
ORDER BY p_brand
""",
)
def brand_price_zscore_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas (grouped-map UDF surface): per-brand z-score
    normalization in pandas, emitting each brand's top-priced part. One
    shuffle on the group key; each group is a single Arrow batch."""
    import pandas as pd

    def top_z(pdf: "pd.DataFrame") -> "pd.DataFrame":
        prices = pdf["p_retailprice"]
        z = (prices - prices.mean()) / prices.std(ddof=0)
        out = pdf.assign(z=z.round(4)).sort_values(
            ["p_retailprice", "p_partkey"], ascending=[False, True]
        )
        return out.head(1)[["p_brand", "p_partkey", "z"]]

    part = _t(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_retailprice"
    )
    return (
        part.groupBy("p_brand")
        .applyInPandas(top_z, schema="p_brand string, p_partkey long, z double")
        .orderBy("p_brand")
    )


@_register(
    "dedup_embedding_cosine",
    similarity.cosine_pairs_sql("embeddings", "vec_id", "embedding", 0.45, dim=64)
    + "\nORDER BY id_a, id_b",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact baseline for semantic
    dedup): all pairs with cosine >= 0.45."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs(
        emb, "vec_id", "embedding", 0.45, dim=64
    ).orderBy("id_a", "id_b")


@_register(
    "dedup_embedding_cosine_lsh",
    similarity.cosine_pairs_bucketed_sql("embeddings", "vec_id", "embedding", 0.45)
    + "\nORDER BY id_a, id_b",
)
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via random-hyperplane LSH bucketing
    at the FIXED compat dials (r=4/L=16) — an oracle-stability operating
    point, not the deployment default: with r pinned, verify work is
    L*n^2/2^r (quadratic; alpha 1.19 measured at x300). The 100 TB
    default is dedup_embedding_cosine_lsh_sized, whose dials grow with
    the corpus per lsh_sized_dials. The exact all-pairs baseline
    (dedup_embedding_cosine) is the explicit opt-in for small corpora."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs_bucketed(
        emb, "vec_id", "embedding", 0.45
    ).orderBy("id_a", "id_b")


@_register(
    "dedup_embedding_cosine_lsh_loose",
    similarity.cosine_pairs_bucketed_sql("embeddings", "vec_id", "embedding", 0.35)
    + "\nORDER BY id_a, id_b",
)
def dedup_embedding_cosine_lsh_loose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second FIXED-DIAL operating point for LSH cosine dedup (threshold
    0.35): pins the candidate-generation recall behavior away from the
    default 0.45 — looser thresholds admit pairs that collide in fewer
    bands, so the identical-banding oracle must agree on exactly which
    candidates exist, not just the easy high-sim ones. Like
    dedup_embedding_cosine_lsh this is an oracle-stability compat point;
    the 100 TB default is the sized entry."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs_bucketed(
        emb, "vec_id", "embedding", 0.35
    ).orderBy("id_a", "id_b")


#: Shared footer-metadata row counter (sources/tables.py) — no Spark
#: job; None when not footer-readable so callers can fall back.
_footer_rows = footer_rows


#: The correctness gate runs every oracle at sf0.01 (driver contract), so
#: a build-time oracle for a corpus-size-derived operating point is
#: constructed from THAT corpus's row count. Footer-read at import (one
#: small-file metadata read — pyarrow is already a pyspark dependency);
#: the recorded sf0.01 count is the fallback for environments without
#: the testdata tree (keeps `import polario_spark.queries` total), and
#: the fallback WARNS: a silent divergence between the baked oracle's
#: dials and a runtime twin reading the real corpus is exactly the
#: failure the gate could not attribute (self-review r12).
_GATE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
_SIZED_LSH_TAU = 0.45
_GATE_EMB_ROWS = _footer_rows(_GATE_SF_DIR, "embeddings")
if _GATE_EMB_ROWS is None:
    import warnings as _warnings

    _warnings.warn(
        f"gate corpus {_GATE_SF_DIR}/embeddings.parquet not footer-readable; "
        "dedup_embedding_cosine_lsh_sized's oracle dials fall back to the "
        "recorded n=500 — its gate comparison is only valid on a corpus "
        "with the same sized-dial resolution",
        RuntimeWarning,
    )
    _GATE_EMB_ROWS = 500
_SIZED_LSH_DIALS = similarity.lsh_sized_dials(_GATE_EMB_ROWS, _SIZED_LSH_TAU)


@_register(
    "dedup_embedding_cosine_lsh_sized",
    similarity.cosine_pairs_bucketed_sql(
        "embeddings",
        "vec_id",
        "embedding",
        _SIZED_LSH_TAU,
        bits_per_band=_SIZED_LSH_DIALS[0],
        n_bands=_SIZED_LSH_DIALS[1],
    )
    + "\nORDER BY id_a, id_b",
)
def dedup_embedding_cosine_lsh_sized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third operating point for LSH cosine dedup — the SIZED one, and
    the 100 TB default a deployment should pick: the band dials are not
    pinned constants but derived from the corpus row count per the
    measured log2(n/B) rule (lsh_sized_dials), exactly as a 100 TB
    deployment must set them. This is the gate twin of the probe's
    `lsh_cosine_sized` control (tools/scale_probe.py): r grows with the
    corpus so expected bucket size stays ~LSH_SIZED_BUCKET and verify
    work stays linear; L grows to hold candidate recall at tau. At the
    gate corpus (sf0.01, n=500) this resolves to r=5/L=19 — a genuinely
    different banding than the fixed r=4/L=16 entries — and at bench
    (sf0.1, n=2000) to r=7/L=47, so the rule executes, not just its
    gate-point value. n comes from parquet footer metadata (no count
    job); the oracle bands identically because lsh_sized_dials is a pure
    function of (n, tau) and the oracle was built from the same gate
    corpus's footer count. tau stays at the default 0.45 so the gate
    compares real pairs (tau>=0.5 yields <=1 pair on the sparse sf0.01
    corpus — a vacuous match); the Theta(n^2) OUTPUT geometry of tau=0.45
    at dim 64 (background P(cos>=0.45) ~ 8e-5, SCALE.md r11) is a
    property of the threshold, not the plan — the sizing rule keeps the
    COMPUTE sub-quadratic (n^(1+rho)) whatever tau the caller picks."""
    emb = _t(spark, sf_dir, "embeddings")
    n = _footer_rows(sf_dir, "embeddings")
    if n is None:
        n = emb.count()
    r, n_bands = similarity.lsh_sized_dials(n, _SIZED_LSH_TAU)
    if (r, n_bands) != _SIZED_LSH_DIALS:
        # The baked oracle bands from _GATE_SF_DIR's import-time footer
        # count; a run on a corpus with a different sized-dial
        # resolution (e.g. bench at sf0.1: r=7/L=47) is fine on its own
        # but CANNOT be hash-compared against that oracle — warn now so
        # a wrong-corpus gate failure is attributable to banding, not
        # mistaken for a correctness bug (r12 advisor).
        import warnings

        warnings.warn(
            f"dedup_embedding_cosine_lsh_sized: runtime dials r={r}/"
            f"L={n_bands} (n={n} from {sf_dir}) differ from the baked "
            f"oracle dials r={_SIZED_LSH_DIALS[0]}/L={_SIZED_LSH_DIALS[1]} "
            f"derived from {_GATE_SF_DIR}; an oracle comparison of this "
            "run would mismatch on banding, not correctness",
            RuntimeWarning,
            stacklevel=2,
        )
    return similarity.cosine_pairs_bucketed(
        emb, "vec_id", "embedding", _SIZED_LSH_TAU,
        bits_per_band=r, n_bands=n_bands, n_rows=n,
    ).orderBy("id_a", "id_b")


#: Fixed on-disk home for each entry's materialized GEMM cell assignment
#: (the inverted file): the Spark query writes (nid, __v, cell) here and
#: the DuckDB oracle reads the SAME bytes back, so the BLAS argmax is
#: computed exactly once and a near-tie can never split the engines — the
#: same treatment the k-means centroid table gets (see assign_cells
#: DETERMINISM in operators/similarity.py). One path per (entry, corpus):
#: the driver may interleave entries, and each oracle must see the bytes
#: ITS Spark twin wrote. These constants bake the GATE corpus into the
#: oracle strings at import time; the query functions recompute the same
#: path from their runtime ``sf_dir`` (pinned equal for the gate corpus
#: by tests/test_workdir.py), so runs over different corpora in
#: concurrent PROCESSES write disjoint dirs and an overwrite-then-read
#: race between corpora cannot happen (workdir.stable_work_path).
_SEMDEDUP_ASSIGN_PATH = stable_work_path("semdedup_assign", _GATE_SF_DIR)
_IVF_ASSIGN_PATH = stable_work_path("ivf_stride_assign", _GATE_SF_DIR)
_IVF_KM_ASSIGN_PATH = stable_work_path("ivf_kmeans_assign", _GATE_SF_DIR)
_IVF_PROBES_PATH = stable_work_path("ivf_stride_probes", _GATE_SF_DIR)
_IVF_KM_PROBES_PATH = stable_work_path("ivf_kmeans_probes", _GATE_SF_DIR)


def _persist(df: DataFrame, path: str) -> DataFrame:
    """Write ``df`` as parquet to the stable directory ``path`` and return
    the frame read back from those bytes — what the oracle reads too."""
    df.write.mode("overwrite").parquet(prepare_stable_dir(path))
    return df.sparkSession.read.parquet(path)


def _materialized_assignment(emb: DataFrame, path: str, cent_np) -> DataFrame:
    """GEMM-assign cells under the centroid triplet ``cent_np``, persist
    the (nid, __v, cell) inverted file to ``path``, and rebuild the
    search-side frame from the persisted bytes.

    The index stores the VECTORS, not just (nid, cell): that is what an
    IVF index is (the cells hold their members' vectors), it lets the
    search side and the oracle read one table with no join back to the
    corpus, and both engines then consume literally identical vector
    bytes. ``__nv`` is re-bound Spark-side with the same clamped-fold
    expression assign_cells emits, so downstream sims are bitwise what
    the in-flight frame would produce."""
    cells = similarity.assign_cells(
        emb, "vec_id", "embedding", cent_np=cent_np
    ).select("nid", "__v", "cell")
    return (
        _persist(cells, path)
        .withColumn("__nv", F.expr(VEC.norm_clamped("__v", "spark")))
        .select("nid", "__v", "__nv", "cell")
    )


def _materialized_probes(emb: DataFrame, path: str, cent_np) -> DataFrame:
    """GEMM-select each query's nprobe nearest cells, persist the
    (qid, cell) probe table to ``path``, and hand back the persisted
    frame — the probe-selection twin of :func:`_materialized_assignment`
    (the GEMM changes float summation order, so both engines must read
    the same probe bytes — probe_cells DETERMINISM).

    The query vectors come from the canonical corpus frame, not from the
    materialized assignment. The bytes are identical BY CONSTRUCTION —
    the index's ``__v`` IS the canonical ``max(__v)`` aggregate (an
    exact, order-independent lexicographic max, no float arithmetic) and
    parquet round-trips float64 bit-exactly — so the probe job does not
    wait on the assignment write and the two run as independent jobs
    (``run_concurrently``). At scale the probe-side query filter
    (nid % stride) pushes through the canonical groupBy to the scan, so
    the extra exchange carries only the ~1% query subset."""
    return _persist(
        similarity.probe_cells(emb, "vec_id", "embedding", cent_np=cent_np),
        path,
    )


def _float_ivf_topk(
    emb: DataFrame, sf_dir: str, kind: str, cent_np, *also: Callable
) -> DataFrame:
    """Top-5 IVF search over the float inverted file of ``emb`` under the
    centroid triplet ``cent_np`` — the index builder shared by the
    stride and Lloyd entries. The assignment and the probe table persist
    to the ``ivf_{kind}_assign`` / ``ivf_{kind}_probes`` stable paths as
    independent jobs, concurrently with the ``also`` thunks, and the
    search reads both back (see _materialized_probes for the corpus-fed
    probe-query bit-identity argument)."""
    *_, assigned, probes = run_concurrently(
        *also,
        lambda: _materialized_assignment(
            emb, stable_work_path(f"ivf_{kind}_assign", sf_dir), cent_np
        ),
        lambda: _materialized_probes(
            emb, stable_work_path(f"ivf_{kind}_probes", sf_dir), cent_np
        ),
    )
    return similarity.ivf_topk(
        emb, "vec_id", "embedding", 5, assigned=assigned, probes=probes
    ).orderBy("qid", "rank")


def _probes_oracle(path: str) -> str:
    """Oracle twin of :func:`_materialized_probes`: the probe table's
    bytes joined back to the materialized assignment for the query
    vectors (columns qid, __q, cell — what the search CTE expects)."""
    return (
        f"SELECT p.qid, a.__v AS __q, p.cell "
        f"FROM read_parquet('{path}/*.parquet') p "
        f"JOIN assigned a ON a.nid = p.qid"
    )


def _assigned_oracle(path: str) -> str:
    """Oracle-side twin of :func:`_materialized_assignment`: read the
    materialized (nid, __v, cell) index directly — the index rows ARE
    the canonical post-shed corpus (one row per distinct id), so no join
    back to ``ec`` is needed and both engines consume the same bytes.
    Columns (id, __v, cell); callers re-alias as their CTE expects."""
    return (
        f"SELECT t.nid AS id, (t.__v)::DOUBLE[] AS __v, t.cell "
        f"FROM read_parquet('{path}/*.parquet') t"
    )


@_register(
    "semantic_dedup",
    similarity.semdedup_sql(
        "embeddings", "vec_id", "embedding", dim=64,
        assigned_sql=_assigned_oracle(_SEMDEDUP_ASSIGN_PATH),
    )
    + "\nORDER BY vec_id",
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse-cluster the embedding space, then search
    for near-duplicates only WITHIN clusters — K independent per-cluster
    GEMM blocks instead of a corpus-wide O(n^2) pair space. Returns the
    dropped set under the id-greedy survivor rule (a vector is dropped
    iff a lower-id cluster-mate is within SEMDEDUP_EPS cosine), with the
    duplicate count and best cosine as evidence columns. Complements the
    LSH entries: LSH buckets by random hyperplanes (recall tied to band
    collisions), SemDeDup buckets by data geometry (recall tied to
    cluster quality) — real pipelines run the latter when embeddings
    already exist for other reasons.

    The cell assignment is the BLAS GEMM path under the stride centroids
    (one fused count + collect job, see collect_stride_centroids),
    materialized to a stable parquet index both engines verify against
    (see _SEMDEDUP_ASSIGN_PATH)."""
    emb = similarity.well_formed_vectors(
        _t(spark, sf_dir, "embeddings"), "embedding", 64
    )
    cent_np = similarity.collect_stride_centroids(
        emb, "vec_id", "embedding", n_hint=_footer_rows(sf_dir, "embeddings")
    )
    assigned = _materialized_assignment(
        emb, stable_work_path("semdedup_assign", sf_dir), cent_np
    )
    return similarity.semdedup_dropped(emb, assigned=assigned).orderBy(
        "vec_id"
    )


@_register(
    "ann_ivf_topk",
    similarity.ivf_topk_sql(
        f"(SELECT * FROM embeddings WHERE {similarity.well_formed_sql('embedding', 64)})",
        "vec_id", "embedding", 5,
        assigned_sql=(
            "SELECT id AS nid, __v, cell FROM ("
            + _assigned_oracle(_IVF_ASSIGN_PATH)
            + ")"
        ),
        probes_sql=_probes_oracle(_IVF_PROBES_PATH),
    )
    + "\nORDER BY qid, rank",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-5 cosine neighbors — the scale path
    complement to ann_topk_cosine's exact scan. Malformed vectors shed at
    the scan both sides: a NaN assignment cosine would place the vector
    in an engine-dependent cell. The stride centroid matrix is collected
    once (one fused count + collect job, see collect_stride_centroids)
    and shared by the GEMM cell assignment and the GEMM probe selection;
    both are materialized to stable parquet tables both engines verify
    against (_IVF_ASSIGN_PATH, _IVF_PROBES_PATH), and the search itself
    is a per-cell blocked GEMM (ivf_topk). Recall rides nprobe (~nprobe/K
    on unclustered data; measured curve 0.248@2 -> 0.943@24, see
    similarity.IVF_NPROBE / SCALE.md) — size it before deploying."""
    emb = similarity.well_formed_vectors(
        _t(spark, sf_dir, "embeddings"), "embedding", 64
    )
    cent_np = similarity.collect_stride_centroids(
        emb, "vec_id", "embedding", n_hint=_footer_rows(sf_dir, "embeddings")
    )
    return _float_ivf_topk(emb, sf_dir, "stride", cent_np)


@_register(
    "ann_topk_quantized",
    similarity.quantized_topk_sql(
        f"(SELECT * FROM embeddings WHERE {similarity.well_formed_sql('embedding', 64)})",
        "vec_id", "embedding", 5
    )
    + "\nORDER BY qid, rank",
)
def ann_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cosine neighbors over int8-quantized embeddings — an EXACT
    OPT-IN BASELINE, the third alongside ann_topk_cosine and
    dedup_embedding_cosine: the broadcast-query / stationary-corpus plan
    is compute-quadratic by design (it scans every (query, member) pair
    — the int8 win here is memory and integer SIMD, not plan shape), so
    it exists to pin the exact integer-cosine semantics and as the
    recall reference. The scale path with the same quantized semantics
    is ann_ivf_quantized_topk (probed cells only, n^1.5 work).
    Malformed vectors shed at the scan both sides (a NaN component would
    kill the NaN->BIGINT quantize cast under ANSI — round-8 probe)."""
    emb = similarity.well_formed_vectors(
        _t(spark, sf_dir, "embeddings"), "embedding", 64
    )
    return similarity.quantized_topk(emb, "vec_id", "embedding", 5).orderBy(
        "qid", "rank"
    )


#: Materialized homes for the QUANTIZED inverted file and its probe table
#: (see _SEMDEDUP_ASSIGN_PATH rationale — one path per (entry, corpus);
#: constants bake the gate corpus for the oracle strings, functions
#: recompute from runtime sf_dir).
_IVF_Q_ASSIGN_PATH = stable_work_path("ivf_quant_assign", _GATE_SF_DIR)
_IVF_Q_PROBES_PATH = stable_work_path("ivf_quant_probes", _GATE_SF_DIR)


@_register(
    "ann_ivf_quantized_topk",
    similarity.ivf_topk_quantized_sql(
        qassigned_sql=(
            f"SELECT t.nid, (t.__qv)::DOUBLE[] AS __qv, t.cell "
            f"FROM read_parquet('{_IVF_Q_ASSIGN_PATH}/*.parquet') t"
        ),
        probes_sql=(
            f"SELECT p.qid, a.__qv AS __qa, p.cell "
            f"FROM read_parquet('{_IVF_Q_PROBES_PATH}/*.parquet') p "
            f"JOIN assigned a ON a.nid = p.qid"
        ),
        k=5,
    )
    + "\nORDER BY qid, rank",
)
def ann_ivf_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 over the int8-QUANTIZED inverted file — the scale path
    that makes ann_topk_quantized's memory story real: the materialized
    index stores one byte per component (array<tinyint>, 1/8th the
    float64 corpus — what a search fleet actually holds resident), the
    float corpus is never touched after indexing (probe queries use the
    dequantized index vectors; scale cancels out of cosine), and the
    search is the per-cell blocked GEMM of ann_ivf_topk — int8 values
    cast to double are integer-exact in BLAS at dim 64, so the float
    kernel IS the quantized kernel and the sim is bitwise the
    integer-dot cosine the oracle computes. Assignment and probe tables
    materialized; the oracle reads the same bytes (no SQL replay of
    quantization, GEMM argmax, or probe selection). Recall rides nprobe
    (~nprobe/K on unclustered data; measured curve 0.248@2 -> 0.943@24,
    see similarity.IVF_NPROBE / SCALE.md) — size it before deploying."""
    emb = similarity.well_formed_vectors(
        _t(spark, sf_dir, "embeddings"), "embedding", 64
    )
    # One stride centroid matrix (one fused count + collect job) feeds
    # the assignment and the probe selection, and the two index writes
    # are independent jobs: the probe step's query vectors are
    # dequant(quantize(canonical __v)), PURE deterministic column
    # expressions of the canonical corpus (the assignment GEMM computes
    # only the CELL, which the query side never reads), so computing
    # them in-flight is bit-identical to reading them back from the
    # materialized index (int8 survives parquet exactly; the quantize
    # exprs are shared via quantized_index).
    cent_np = similarity.collect_stride_centroids(
        emb, "vec_id", "embedding", n_hint=_footer_rows(sf_dir, "embeddings")
    )
    q_queries = similarity.quantized_index(
        similarity.canonical_vectors(emb, "vec_id", "embedding")
        .withColumn("cell", F.lit(None).cast("long"))
    ).select("nid", F.expr(similarity.dequant_expr("__qv")).alias("__v"))
    assigned_q, probes = run_concurrently(
        lambda: _persist(
            similarity.quantized_index(
                similarity.assign_cells(
                    emb, "vec_id", "embedding", cent_np=cent_np
                ).select("nid", "__v", "cell")
            ),
            stable_work_path("ivf_quant_assign", sf_dir),
        ),
        lambda: _persist(
            similarity.probe_cells(
                emb, "vec_id", "embedding",
                queries_from=q_queries, cent_np=cent_np,
            ),
            stable_work_path("ivf_quant_probes", sf_dir),
        ),
    )
    return similarity.ivf_topk_quantized(
        emb, "vec_id", "embedding", 5, assigned_q=assigned_q, probes=probes
    ).orderBy("qid", "rank")


#: Fixed on-disk home for the Lloyd-refined centroid table: the Spark query
#: materializes centroids here, and the DuckDB oracle reads the SAME bytes
#: back by literal path — so the hash gate covers the probe + search
#: without replaying the iterative refinement in SQL.
_KMEANS_CENT_PATH = stable_work_path("kmeans_centroids", _GATE_SF_DIR)


@_register(
    "ann_ivf_kmeans_topk",
    similarity.ivf_topk_sql(
        f"(SELECT * FROM embeddings WHERE {similarity.well_formed_sql('embedding', 64)})",
        "vec_id", "embedding", 5,
        cent_sql=(
            "SELECT cid, __cent FROM "
            f"read_parquet('{_KMEANS_CENT_PATH}/*.parquet')"
        ),
        assigned_sql=(
            "SELECT id AS nid, __v, cell FROM ("
            + _assigned_oracle(_IVF_KM_ASSIGN_PATH)
            + ")"
        ),
        probes_sql=_probes_oracle(_IVF_KM_PROBES_PATH),
    )
    + "\nORDER BY qid, rank",
)
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 with Lloyd-refined centroids: three k-means rounds
    (stride init, no RNG, GEMM assignment per round) tighten the cells
    before the same search as ann_ivf_topk. The refined centroids are
    materialized to a fixed parquet path, and so are the GEMM cell
    assignment and the probe table (_IVF_KM_ASSIGN_PATH,
    _IVF_KM_PROBES_PATH) — the hash gate covers probe + search
    end-to-end over the bytes the Spark side used, while the refinement
    itself is pinned by pytest (determinism in-session, recall >= the
    stride path; tests/test_operators.py). Malformed vectors shed at the
    scan both sides — a NaN component would poison the Lloyd mean of its
    whole cell. Recall rides nprobe (~nprobe/K on unclustered data;
    measured curve 0.248@2 -> 0.943@24, see similarity.IVF_NPROBE /
    SCALE.md) — size it before deploying."""
    emb = similarity.well_formed_vectors(
        _t(spark, sf_dir, "embeddings"), "embedding", 64
    )
    # The Lloyd loop's final means already live on the driver as the
    # (ids, matrix, norms) triplet the assignment and probe GEMMs take;
    # the centroid frame is built from that triplet, so the table the
    # oracle reads holds the same float64 values (exact round-trip,
    # tests/test_operators.py::test_kmeans_return_matrix_matches_collect).
    cent_np = similarity.kmeans_centroid_matrix(
        emb, "vec_id", "embedding", iters=3,
        n_hint=_footer_rows(sf_dir, "embeddings"),
    )
    cent_path = stable_work_path("kmeans_centroids", sf_dir)

    def _write_cent() -> None:
        # repartition(1): the centroid table is driver-sized by
        # construction (K ~ sqrt(n) rows), so parallelize()'s default
        # slicing would write one near-empty file per core — pure commit
        # overhead at any scale. repartition, NOT coalesce: coalesce(1)
        # funnels all of createDataFrame's pickled slices through ONE
        # task's sequential Python-worker round-trips (measured 4+ s for
        # 45 rows); the repartition shuffle keeps the Python side
        # parallel and the single write task pure-JVM (0.4 s).
        similarity.centroid_frame(spark, cent_np).repartition(1).write.mode(
            "overwrite"
        ).parquet(prepare_stable_dir(cent_path))

    # The centroid-table write (nothing on the Spark side reads it back;
    # only the oracle consumes the bytes) is a third independent job
    # beside the two index writes.
    return _float_ivf_topk(emb, sf_dir, "kmeans", cent_np, _write_cent)


@_register(
    "dedup_rolling_windows",
    dedup.rolling_window_pairs_sql("documents", "doc_id", "text")
    + "\nORDER BY id_a, id_b",
)
def dedup_rolling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level near-dup pairs: documents sharing >= 5 rolling 8-token
    window fingerprints (order-sensitive passage copying)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.rolling_window_pairs(docs, "doc_id", "text").orderBy(
        "id_a", "id_b"
    )


# ===========================================================================
# Batch 4: window frames + streaming depth (sliding windows, custom
# stateful operator)
# ===========================================================================

@_register(
    "customer_running_totals",
    f"""
SELECT c_custkey, o_orderkey,
       round(sum({NUM.safe_decimal('o_totalprice')}) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)::DOUBLE AS running_total,
       round(sum({NUM.safe_decimal('o_totalprice')}) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2)::DOUBLE AS moving_sum3,
       round(coalesce(lead(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey), -1), 2) AS next_price
FROM orders JOIN customer ON c_custkey = o_custkey
WHERE c_custkey % 100 = 0 AND o_orderdate IS NOT NULL
ORDER BY c_custkey, o_orderkey
""",
)
def customer_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frames: running total (UNBOUNDED PRECEDING), 3-row moving
    average (2 PRECEDING), and lead() — all three share ONE shuffle+sort
    on (custkey, orderdate) because they use the same window spec base.

    Orders with a NULL date are excluded at the scan, mirrored in the
    oracle: a running total ORDERED BY an unknown date has no
    engine-stable position (Spark sorts NULLS FIRST ascending, DuckDB
    NULLS LAST — micro-tested in the round-8 calendar-adversary probe),
    so any answer keeping them is engine-dependent."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_custkey") % 100 == 0) & F.col("o_orderdate").isNotNull()
    )
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 100 == 0)
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            # decimal window sums at scale 6 (exact for these doubles):
            # double accumulation order differs between engines and flips
            # round(.,2) on half-cent boundaries at sf>=0.1
            F.round(
                F.sum(F.expr(NUM.safe_decimal("o_totalprice"))).over(
                    base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
                2,
            ).cast("double").alias("running_total"),
            F.round(
                F.sum(F.expr(NUM.safe_decimal("o_totalprice"))).over(
                    base.rowsBetween(-2, Window.currentRow)
                ),
                2,
            ).cast("double").alias("moving_sum3"),
            F.round(
                F.coalesce(F.lead("o_totalprice").over(base), F.lit(-1)), 2
            ).alias("next_price"),
        )
        .orderBy("c_custkey", "o_orderkey")
    )


@_register(
    "streaming_sliding_counts",
    # sliding window = each event in its 2 covering (1h, 30m-slide)
    # windows. The slide start must be a FLOOR to the previous 30-min
    # boundary; DuckDB's % is truncated (sign of the dividend), so the
    # naive x - x % m rounds pre-epoch (negative-epoch) timestamps UP —
    # the round-8 probe caught a 1969 event assigned to the window
    # AFTER it. Spark's window() floors, so the oracle uses the
    # sign-safe double-mod floor construction.
    """
SELECT window_start, event_type, count(*) AS n_events
FROM (
  SELECT strftime(make_timestamp(w_us), '%Y-%m-%d %H:%M:%S') AS window_start,
         event_type
  FROM (
    SELECT unnest([
             epoch_us(ts) - ((epoch_us(ts) % 1800000000 + 1800000000) % 1800000000),
             epoch_us(ts) - ((epoch_us(ts) % 1800000000 + 1800000000) % 1800000000) - 1800000000
           ]) AS w_us,
           event_type
    FROM events
    WHERE ts IS NOT NULL  -- streaming windows drop unknown event times
  )
)
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming sliding-window counts (1h window / 30m slide)
    drained through a memory sink; must equal the batch window expansion."""
    return streaming_events.sliding_counts(spark, sf_dir).orderBy(
        "window_start", "event_type"
    )


@_register(
    "streaming_stateful_sessions",
    # same sessionization the batch lag/cumsum query performs; NULL event
    # times are excluded on both sides — sessionization is undefined for
    # an unknown time, and engines disagree on NULL ordering (round 8)
    """
WITH ordered AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id) AS prev_us
  FROM events
  WHERE ts IS NOT NULL
)
SELECT user_id,
       sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                THEN 1 ELSE 0 END)::BIGINT AS n_sessions,
       count(*) AS total_events
FROM ordered
GROUP BY user_id
ORDER BY user_id
""",
)
def streaming_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState sessionization (30-min gap) — the custom
    stateful streaming operator, verified against batch sessionization."""
    return streaming_events.stateful_sessions(spark, sf_dir).orderBy(F.col("user_id").asc_nulls_last())


# ===========================================================================
# Batch 5: CSV/JSON source-sink round-trips in the gate, salted skew agg
# ===========================================================================

@_register(
    "csv_roundtrip",
    """
SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink+source: write orders to headered CSV, read back schema-less
    (all strings, the reference CLI's concat_csv semantics), cast, and
    aggregate — proving the CSV path preserves values exactly."""
    from polario_spark.plans.parallelism import ensure_parallelism

    # A single-row-group input would write the CSV as ONE task and ONE
    # file, which the multiLine (RFC 4180) read-back then parses
    # single-threaded too (multiLine CSV files are unsplittable).
    # Parallelizing the write input fixes both sides; identity on real
    # multi-file inputs. Float rounding: the declared result rounds a
    # sum(double) at 2 decimals and partial-sum order is
    # partition-dependent, but the ORACLE sums the same doubles in its
    # own order anyway, so boundary sensitivity is inherent to the
    # declared round(sum(double)), not introduced by this guard. These
    # are cent-valued sums rounded at the 2nd decimal, ~10 orders of
    # magnitude from the ulp; the dup-id/skew adversary corpora exercise
    # them.
    orders = ensure_parallelism(
        _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", F.col("o_totalprice").cast("string")
        )
    )
    tmp = work_dir(spark, "csv_roundtrip")
    # RFC 4180 options on both sides (doubled-quote escape, multiLine
    # read) — the reference CLI's Polars CSV format; see cli.concat_csv
    orders.write.mode("overwrite").option("header", "true").option(
        "escape", '"'
    ).csv(f"{tmp}/orders")
    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .csv(f"{tmp}/orders")
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("double")), 2).alias("total"),
        )
        .orderBy(F.col("o_orderstatus").asc_nulls_last())
    )


@_register(
    "json_roundtrip",
    """
SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink+source round-trip over events (ts serialized as
    epoch micros so the round-trip is lossless)."""
    from polario_spark.plans.parallelism import ensure_parallelism

    # parallel write input (round 15 opt) — see csv_roundtrip: the JSON
    # sink otherwise writes one file from one task, and the schema-
    # inferring read-back scans that one file single-threaded twice
    ev = ensure_parallelism(
        _t(spark, sf_dir, "events").select(
            "event_id", "event_type", "value", F.unix_micros("ts").alias("ts_us")
        )
    )
    tmp = work_dir(spark, "json_roundtrip")
    ev.write.mode("overwrite").json(f"{tmp}/events")
    back = spark.read.json(f"{tmp}/events")
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy(F.col("event_type").asc_nulls_last())
    )


@_register(
    "skew_salted_agg",
    """
SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value,
       round(max(value), 2) AS max_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation for skewed keys: stage 1 aggregates on
    (key, salt) — spreading one hot key over 16 reducers — stage 2 merges
    the partials per key. Result is provably identical to the direct
    groupBy (the oracle IS the direct groupBy); the technique is the
    standard fix when one key holds a disproportionate share of a 100 TB
    shuffle. count/sum/max all decompose into partial + merge.
    (Spark's map-side partial aggregation makes this unnecessary for
    built-in aggs; the pattern matters for collect_list-style holistic
    aggs and skewed JOIN keys, and AQE skew-join handles the join case.)
    """
    ev = _t(spark, sf_dir, "events")
    salted = ev.withColumn("__salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
    partial = salted.groupBy("event_type", "__salt").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("value").alias("__sum"),
        F.max("value").alias("__max"),
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("__n").alias("n_events"),
            F.round(F.sum("__sum"), 2).alias("sum_value"),
            F.round(F.max("__max"), 2).alias("max_value"),
        )
        .orderBy(F.col("event_type").asc_nulls_last())
    )


# ===========================================================================
# Batch 6: remaining TPC-H-adaptable shapes (argmin join-back, window-max
# filter, correlated avg, promo share, sole-supplier exists-shape)
# ===========================================================================

@_register(
    "q14_promo_revenue",
    """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate <  TIMESTAMP '1996-04-01'
""",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation over a broadcast join —
    promo revenue share in one month. The date filter is pushed to the
    lineitem scan; part is broadcast."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.join(part, li.l_partkey == part.p_partkey).agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            4,
        ).alias("promo_pct")
    )


@_register(
    "q15_top_supplier",
    """
WITH rev AS (
  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_rev
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM rev)
ORDER BY s_suppkey
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate -> filter to the global max (scalar
    subquery over the aggregate, computed once and broadcast) -> join the
    supplier dim. Ties all surface, ordered by suppkey."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_rev"
        )
    )
    mx = rev.agg(F.max("total_rev").alias("__mx"))
    sup = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("__mx"))
        .join(sup, rev.l_suppkey == sup.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


@_register(
    "q17_small_quantity_revenue",
    """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (
    SELECT 0.2 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey
  )
""",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part average -> window avg over
    partkey computed in the same shuffle as the join, then the 0.2*avg
    filter. No second lineitem scan: the window replaces the correlated
    subquery."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    w = Window.partitionBy("l_partkey")
    with_avg = li.withColumn("__avg_qty", F.avg("l_quantity").over(w))
    return (
        with_avg.join(part, with_avg.l_partkey == part.p_partkey)
        .filter(F.col("l_quantity") < 0.2 * F.col("__avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@_register(
    "sole_supplier_orders",
    """
SELECT s_name, count(*) AS n_sole_orders
FROM (
  SELECT l_orderkey, min(l_suppkey) AS the_supp
  FROM lineitem
  GROUP BY l_orderkey
  HAVING count(DISTINCT l_suppkey) = 1 AND count(*) > 1
)
JOIN supplier ON s_suppkey = the_supp
GROUP BY s_name
ORDER BY n_sole_orders DESC, s_name
LIMIT 20
""",
)
def sole_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted): multi-line orders served entirely by one
    supplier — count-distinct HAVING replaces the EXISTS/NOT EXISTS pair,
    one shuffle on orderkey instead of two correlated probes."""
    li = _t(spark, sf_dir, "lineitem")
    # "exactly one distinct supplier" == min(supp) = max(supp): avoids
    # count-distinct's expand + second shuffle; one hash agg total
    sole = (
        li.groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("the_supp"),
            F.max("l_suppkey").alias("__mx"),
            F.count(F.lit(1)).alias("__nlines"),
        )
        .filter((F.col("the_supp") == F.col("__mx")) & (F.col("__nlines") > 1))
    )
    sup = _t(spark, sf_dir, "supplier")
    return (
        sole.join(sup, sole.the_supp == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_sole_orders"))
        .orderBy(F.col("n_sole_orders").desc(), F.col("s_name"))
        .limit(20)
    )


@_register(
    "cheapest_supplier_per_part",
    """
SELECT p_partkey, s_suppkey, avg_price FROM (
  SELECT l_partkey AS p_partkey, l_suppkey AS s_suppkey,
         round(avg(l_extendedprice / l_quantity), 2) AS avg_price,
         row_number() OVER (PARTITION BY l_partkey
            ORDER BY round(avg(l_extendedprice / l_quantity), 2) ASC, l_suppkey ASC) AS rn
  FROM lineitem
  WHERE l_partkey % 200 = 0
  GROUP BY l_partkey, l_suppkey
)
WHERE rn = 1
ORDER BY p_partkey
""",
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted): per-(part, supplier) average unit price,
    then argmin per part — the min-subquery join-back expressed as one
    window over the aggregation's own shuffle. The partkey filter prunes
    at the scan."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 200 == 0)
    per = li.groupBy("l_partkey", "l_suppkey").agg(
        F.round(F.avg(F.col("l_extendedprice") / F.col("l_quantity")), 2).alias(
            "avg_price"
        )
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("avg_price").asc(), F.col("l_suppkey").asc()
    )
    return (
        per.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_suppkey").alias("s_suppkey"),
            "avg_price",
        )
        .orderBy("p_partkey")
    )


@_register(
    "bucketed_join",
    """
SELECT o_orderstatus, count(*) AS n_lines, round(sum(l_extendedprice), 2) AS total
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides written bucketBy(orderkey) so
    the join needs NO shuffle exchange — each bucket pairs 1:1. At 100 TB
    this is the standard way to amortize one write-time shuffle across
    every future join/agg on the bucket key; the test asserts the final
    plan is exchange-free on the join path.

    Metastore hygiene: the database name embeds the owning PID
    (``bjoin_p{pid}_{uuid}``) and can't be dropped before the caller
    collects the returned frame (the plan reads its tables), so cleanup
    is two-layered — an atexit drop for databases this process created
    (best-effort; the session may already be stopped), plus an
    entry-time sweep of leftovers. The sweep only drops a database whose
    owning process is demonstrably gone (PID not alive, or no embedded
    PID — a pre-round-9 legacy name) — with a shared metastore, a
    SECOND concurrently-running driver's live database is
    indistinguishable from a leftover by name alone, and the r8 sweep
    would have dropped it mid-query (r8 ADVICE). PID recycling can at
    worst postpone a drop until the recycled PID exits; it never drops a
    live database, because a live owner's PID is by definition alive."""
    import uuid as _uuid

    for old in spark.sql("SHOW DATABASES LIKE 'bjoin_*'").collect():
        name = old[0]
        if name in _BJOIN_LIVE_DBS or _bjoin_owner_alive(name):
            continue
        spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")
    db = f"bjoin_p{os.getpid()}_{_uuid.uuid4().hex[:8]}"
    loc = work_dir(spark, "bucketed_join")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    _BJOIN_LIVE_DBS.add(db)
    _register_bjoin_atexit_drop(spark)
    try:
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        orders = _t(spark, sf_dir, "orders").filter(
            F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
        ).select("o_orderkey", "o_orderstatus")
        # The two bucketed writes are independent jobs; running them
        # concurrently lets the second job's tasks back-fill the
        # executor slots the first job's tail leaves idle (guide §2.6;
        # interleaved A/B at sf0.1: 1.71 -> 1.41 s, identical results).
        def _write_li():
            li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
                "overwrite"
            ).saveAsTable(f"{db}.lineitem_b")

        def _write_orders():
            orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
                "overwrite"
            ).saveAsTable(f"{db}.orders_b")

        run_concurrently(_write_li, _write_orders)
        lb = spark.table(f"{db}.lineitem_b")
        ob = spark.table(f"{db}.orders_b")
        return (
            lb.join(ob, lb.l_orderkey == ob.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.round(F.sum("l_extendedprice"), 2).alias("total"),
            )
            .orderBy(F.col("o_orderstatus").asc_nulls_last())
        )
    except Exception:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        _BJOIN_LIVE_DBS.discard(db)
        raise


_BJOIN_LIVE_DBS: set[str] = set()
_BJOIN_ATEXIT_REGISTERED = False


def _bjoin_owner_alive(db_name: str) -> bool:
    """True when the bjoin_* database's embedded owner PID is a live
    process (``os.kill(pid, 0)``). Names without an embedded PID
    (pre-round-9 ``bjoin_<hex>``) report False — there is no owner to
    protect, so the sweep may drop them."""
    m = re.match(r"bjoin_p(\d+)_", db_name)
    if m is None:
        return False
    pid = int(m.group(1))
    if pid == os.getpid():
        # our own leftover not in _BJOIN_LIVE_DBS: safe to drop
        return False
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        # exists but owned by another user — definitely alive
        return True


def _register_bjoin_atexit_drop(spark: SparkSession) -> None:
    """One atexit hook per process dropping every bjoin_* database this
    process created. Best-effort: if the session is already stopped at
    interpreter exit the drop fails silently and the next process's
    entry-time sweep in bucketed_join() picks the leftovers up."""
    global _BJOIN_ATEXIT_REGISTERED
    if _BJOIN_ATEXIT_REGISTERED:
        return
    _BJOIN_ATEXIT_REGISTERED = True
    import atexit

    def _drop() -> None:
        try:
            for name in list(_BJOIN_LIVE_DBS):
                spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")
                _BJOIN_LIVE_DBS.discard(name)
        except Exception:
            pass

    atexit.register(_drop)


@_register(
    "streaming_dedup_counts",
    # streaming dropDuplicates admits each (user, type) exactly once ==
    # batch count of distinct users per type
    """
SELECT event_type, count(DISTINCT user_id) AS n_unique_users
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dropDuplicates (exact ingest dedup) counted
    per event type; must equal the batch distinct count."""
    return streaming_events.dedup_counts(spark, sf_dir)


@_register(
    "q7_nation_trade_volume",
    """
SELECT supp_nation, cust_nation, round(sum(volume), 2) AS revenue
FROM (
  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ns ON ns.n_nationkey = s_nationkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation nc ON nc.n_nationkey = c_nationkey
  WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
      OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
)
GROUP BY supp_nation, cust_nation
ORDER BY supp_nation, cust_nation
""",
)
def q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: five-way join with a nation-pair predicate. All
    dims (supplier, nation x2, customer) broadcast; lineitem->orders is
    the only big-side join and rides one shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    ns = nat.select(
        F.col("n_nationkey").alias("__ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = nat.select(
        F.col("n_nationkey").alias("__nc_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume")
    return (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("__ns_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("__nc_key"))
        .filter(pair)
        .select("supp_nation", "cust_nation", vol)
        .groupBy("supp_nation", "cust_nation")
        .agg(F.round(F.sum("volume"), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation")
    )


@_register(
    "q10_returned_revenue",
    """
SELECT c_custkey, c_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer in a quarter,
    top-20. Both filters push to their scans; customer broadcast."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@_register(
    "approx_distinct_users",
    """
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS hll_within_rsd
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per event type — the sketch
    every 100 TB cardinality question should use instead of exact
    distinct: mergeable partials, no key shuffle of raw values.
    Hash-gated: HLL sketches are engine-specific (DuckDB's approx and
    Spark's HLL++ give different estimates for the same data), so the
    output carries the exact count plus a boolean asserting the HLL++
    estimate landed within 3·rsd (6%) of it; the oracle is the exact
    count + literal TRUE."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
    )
    within = F.abs(
        F.col("approx_users") - F.col("exact_users")
    ) <= F.greatest(0.06 * F.col("exact_users"), F.lit(2.0))
    return agg.select(
        "event_type",
        "exact_users",
        within.alias("hll_within_rsd"),
    ).orderBy(F.col("event_type").asc_nulls_last())


@_register(
    "q8_market_share",
    """
SELECT o_year, round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                     / sum(volume), 4) AS mkt_share
FROM (
  SELECT extract(year FROM o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         ns.n_name AS supp_nation
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ns ON ns.n_nationkey = s_nationkey
  JOIN orders ON o_orderkey = l_orderkey
  WHERE p_type = 'ECONOMY'
)
GROUP BY o_year
ORDER BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of yearly volume in a product
    segment — conditional / total sum ratio per year over a 5-way join
    (all dims broadcast, one lineitem->orders shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume")
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol,
            F.col("n_name").alias("supp_nation"),
        )
    )
    return (
        joined.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", F.col("volume"))
                    .otherwise(0.0)
                )
                / F.sum("volume"),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@_register(
    "q9_profit_by_nation_year",
    """
SELECT nation, o_year, round(sum(amount), 2)::DOUBLE AS profit
FROM (
  SELECT n_name AS nation, extract(year FROM o_orderdate) AS o_year,
         (l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity)::DECIMAL(18,4) AS amount
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  JOIN orders ON o_orderkey = l_orderkey
  WHERE p_name LIKE '%gear%'
)
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue minus synthetic supply cost) per
    supplier nation per year, parts filtered by a LIKE pattern that cannot
    be pushed as a range — it still prunes at the broadcast build side."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    # exact decimal accumulation: double summation order differs between
    # engines and flips round(x, 2) on half-cent boundaries
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(18,4)").alias("amount")
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"), amount)
    )
    return (
        joined.groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).cast("double").alias("profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


@_register(
    "multimodal_frame_sample",
    f"""
WITH payloads AS (
  SELECT doc_id, to_hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents WHERE doc_id % 50 = 0 AND text IS NOT NULL
),
chunks AS (
  SELECT doc_id, unnest(range(0, (n + 63) // 64, 4)) AS chunk_idx, hx
  FROM payloads
),
per AS (
  SELECT doc_id, substring(hx, chunk_idx * 128 + 1, 128) AS chex
  FROM chunks
)
SELECT doc_id, count(*) AS n_chunks, sum(length(chex) // 2)::BIGINT AS sampled_bytes,
       sum(list_sum(list_transform(range(0, length(chex) // 2),
             i -> ('0x' || substring(chex, 2 * i + 1, 2))::INT)) % 65536)::BIGINT AS checksum_total
FROM per
GROUP BY doc_id
ORDER BY doc_id
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads (every 4th 64-byte chunk) via
    1:N mapInPandas, aggregated per document.

    Binary corrupt-row policy: NULL payloads produce zero frames (scan
    filter here + kernel skip for library callers, WHERE in the oracle);
    the `% 50` id filter already excludes NULL ids before the kernel —
    see tests/test_binary_adversaries.py."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 50 == 0) & F.col("text").isNotNull()
    )
    frames = frame_sample(with_binary_payload(docs, "text"), "doc_id")
    return (
        frames.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_len").alias("sampled_bytes"),
            F.sum("checksum").alias("checksum_total"),
        )
        .orderBy(F.col("doc_id").asc_nulls_last())
    )


#: GPT-2-style pre-tokenizer, reduced to a dialect-portable class pattern:
#: letter runs, digit runs, or single non-alphanumeric marks.
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@_register(
    "bpe_token_stats",
    f"""
SELECT source,
       count(*) AS n_docs,
       sum(len(regexp_extract_all({TXT.ascii_lower('text')}, '{BPE_PATTERN}')))::BIGINT AS total_tokens,
       round(avg(len(regexp_extract_all({TXT.ascii_lower('text')}, '{BPE_PATTERN}'))), 4) AS avg_tokens
FROM documents
GROUP BY source
ORDER BY source
""",
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style token counting: a GPT-2-ish pre-tokenizer regex (letter
    runs / digit runs / punctuation marks) — the fast proxy for real BPE
    token counts in corpus budgeting. Pure regexp_extract_all, JVM-side."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens",
        F.expr(
            f"size(regexp_extract_all({TXT.ascii_lower('text')}, '{BPE_PATTERN}', 0))"
        ),
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        )
        .orderBy(F.col("source").asc_nulls_last())
    )


@_register(
    "events_rolling_hour_rate",
    """
SELECT user_id, event_id,
       count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS events_last_hour
FROM events
WHERE user_id % 100 = 0 AND ts IS NOT NULL
ORDER BY user_id, event_id
""",
)
def events_rolling_hour_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame over event time: per event, how many of the
    user's events fall in the trailing hour — the rate-limit / burst
    detection shape. RANGE frames bound by VALUE, so the frame follows the
    timestamps regardless of row density; one shuffle+sort per user.

    NULL event times are excluded at the scan (mirrored in the oracle):
    a trailing-hour rate of an event with unknown time is undefined, and
    the engines place a NULL RANGE ordering key at opposite ends of the
    partition — tests/test_asof_window_adversaries.py."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") % 100 == 0)
        .filter(F.col("ts").isNotNull())
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            F.count(F.lit(1)).over(w).alias("events_last_hour"),
        )
        .orderBy(F.col("user_id").asc_nulls_last(), "event_id")
    )


@_register(
    "top_bigrams_per_lang",
    """
WITH grams AS (
  SELECT lang, unnest("""
    + TXT.word_bigrams(TXT.tokens("text", "duckdb"), "duckdb")
    + """) AS bigram FROM documents
)
SELECT lang, bigram, n FROM (
  SELECT lang, bigram, count(*) AS n,
         row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, bigram ASC) AS rn
  FROM grams GROUP BY lang, bigram
) WHERE rn <= 5
ORDER BY lang, n DESC, bigram
""",
)
def top_bigrams_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram statistics: top-5 bigrams per language. Explode ->
    count (map-side combinable) -> per-group top-k window riding the same
    (lang) shuffle. The shape of vocabulary/frequency tables over a
    training corpus."""
    # parallel CPU-heavy scan (round 15 opt, A/B 0.67 -> 0.57 s) — see
    # events_json_stats
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    grams = docs.select(
        "lang",
        F.explode(
            F.expr(TXT.word_bigrams(TXT.tokens("text", "spark"), "spark"))
        ).alias("bigram"),
    )
    counts = grams.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bigram").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "bigram", "n")
        .orderBy(F.col("lang").asc_nulls_last(), F.col("n").desc(), "bigram")
    )


@_register(
    "q16_supplier_diversity",
    """
SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45' AND p_type NOT IN ('PROMO', 'ECONOMY')
GROUP BY p_brand, p_type
ORDER BY supplier_cnt DESC, p_brand, p_type
LIMIT 30
""",
)
def q16_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN filters on the dim, exact distinct-count of
    suppliers per (brand, type). The distinct lands on the join shuffle's
    own key prefix; filters prune the broadcast build side."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45") & (~F.col("p_type").isin("PROMO", "ECONOMY"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), F.col("p_brand"), F.col("p_type"))
        .limit(30)
    )


@_register(
    "q20_heavy_gear_suppliers",
    """
SELECT s_name, round(s_acctbal, 2) AS s_acctbal FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%gear%'
  GROUP BY l_suppkey
  HAVING sum(l_quantity) > 400
)
ORDER BY s_name
""",
)
def q20_heavy_gear_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: IN-subquery over a filtered aggregate -> left-semi
    join. The qualifying-suppkey set is bounded by |supplier| after its
    HAVING, so it broadcasts (semi-join build side); supplier never
    shuffles and rows are never duplicated."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    heavy = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 400)
    )
    sup = _t(spark, sf_dir, "supplier")
    return (
        sup.join(heavy, sup.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_name")
    )


@_register(
    "streaming_click_attribution",
    """
SELECT strftime(date_trunc('hour', p.ts), '%Y-%m-%d %H:%M:%S') AS purchase_hour,
       count(*) AS n_attributed_clicks,
       count(DISTINCT p.event_id) AS n_purchases
FROM events p JOIN events c
  ON c.user_id = p.user_id AND c.event_type = 'click'
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
WHERE p.event_type = 'purchase'
GROUP BY 1
ORDER BY 1
""",
)
def streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream watermarked range join (click->purchase attribution
    within 1 hour), aggregated per purchase hour; equals the batch join."""
    return streaming_events.click_purchase_join(spark, sf_dir)


@_register(
    "events_props_map",
    f"""
WITH g AS (
  SELECT CASE WHEN json_valid(props) THEN props END AS vp FROM events
),
h AS (
  SELECT CASE WHEN json_type(vp) = 'OBJECT' THEN vp END AS op
  FROM g
),
kv AS (
  SELECT u.e.key AS key, json_extract_string(u.e.value, '$') AS sval
  FROM (
    SELECT unnest(map_entries(op::JSON::MAP(VARCHAR, JSON))) AS e
    FROM h WHERE op IS NOT NULL
  ) u
)
SELECT key, count(*) AS n, min(val) AS min_val, max(val) AS max_val, sum(val)::BIGINT AS sum_val
FROM (
  SELECT key,
         CASE WHEN regexp_matches(sval, '{_JSON_INT_RE}') THEN CAST(sval AS BIGINT) END AS val
  FROM kv
)
GROUP BY key
ORDER BY key
""",
)
def events_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured map handling: from_json into a map, explode to
    (key, value) rows, aggregate per key — the generic properties-bag
    shape. All JVM-side (from_json + explode).

    Hardened (round-9 JSON adversary probe). Three divergences closed:

    - **duplicate keys**: both engines' map materializations keep BOTH
      occurrences of `{"k":1,"k":2}` — Spark's from_json map explodes to
      two rows (the Python-side dict display dedups, the engine does
      not) and DuckDB's ::MAP cast holds both entries — so plain
      enumeration agrees naturally. (The OLD oracle was still wrong: it
      took json_keys twice but json_extract'd the FIRST value for both,
      counting value 1 twice instead of 1 and 2.)
    - **value typing**: values decode as STRINGS (map<string,string> /
      json_extract_string(value,'$'), which collapse `12` and `"12"`
      identically in both engines) and pass the ``_JSON_INT_RE`` gate
      before the integer cast — the old map<string,bigint> nulled the
      WHOLE map when any one value was non-integer, while the oracle's
      ::BIGINT raised on it.
    - **path injection**: the old oracle built '$.' || key paths, so a
      key containing '.' read as a nested path (NULL) while Spark's map
      explode kept it literal; map_entries is literal on both sides.

    Malformed JSON and non-object documents drop out identically
    (from_json -> NULL map, which explode skips, in Spark;
    json_valid/json_type guards in the oracle)."""
    # parallel CPU-heavy scan (round 15 opt, A/B 0.45 -> 0.35 s) — see
    # events_json_stats
    ev = ensure_parallelism(_t(spark, sf_dir, "events"))
    m = F.from_json("props", "map<string,string>")
    kv = ev.select(F.explode(m).alias("key", "sval"))
    val = F.when(
        F.col("sval").rlike(_JSON_INT_RE), F.col("sval").cast("bigint")
    )
    return (
        kv.select("key", val.alias("val"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
            F.sum("val").alias("sum_val"),
        )
        .orderBy("key")
    )


@_register(
    "orders_retention_cohort",
    """
WITH firsts AS (
  SELECT o_custkey,
         min(date_trunc('month', o_orderdate)) OVER (PARTITION BY o_custkey) AS cohort,
         date_trunc('month', o_orderdate) AS activity
  FROM orders
)
SELECT extract(year FROM cohort) * 100 + extract(month FROM cohort) AS cohort_month,
       (extract(year FROM activity) - extract(year FROM cohort)) * 12
         + (extract(month FROM activity) - extract(month FROM cohort)) AS months_since,
       count(DISTINCT o_custkey) AS n_customers
FROM firsts
GROUP BY 1, 2
HAVING months_since <= 6
ORDER BY cohort_month, months_since
""",
)
def orders_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: customers grouped by first-order month, counted
    in each subsequent activity month (first 6 offsets) — the standard
    retention triangle. All-integer output (year-month keys, distinct
    customer counts), so no float boundary can ever diverge from the
    oracle.

    Scale shape: the cohort assignment is one analytic min-window on the
    customer key; the count-distinct rides the same customer-keyed
    shuffle (partial aggregation dedups (cohort, offset, customer)
    map-side before the exchange)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    f = orders.select(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").alias("activity"),
    ).withColumn("cohort", F.min("activity").over(w))
    months_since = (F.year("activity") - F.year("cohort")) * 12 + (
        F.month("activity") - F.month("cohort")
    )
    return (
        f.select(
            (F.year("cohort") * 100 + F.month("cohort")).alias("cohort_month"),
            months_since.alias("months_since"),
            "o_custkey",
        )
        .filter(F.col("months_since") <= 6)
        .groupBy("cohort_month", "months_since")
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
        .orderBy("cohort_month", "months_since")
    )


@_register(
    "events_hot_hours",
    """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
  FROM events
  GROUP BY event_type, hr
),
tot AS (
  SELECT event_type, count(*) AS n_hours, sum(n) AS total
  FROM hourly GROUP BY event_type
)
SELECT h.event_type,
       count(*) AS n_hours,
       sum(CASE WHEN h.n * t.n_hours * 10 > t.total * 15 THEN 1 ELSE 0 END)::BIGINT AS n_hot
FROM hourly h JOIN tot t ON h.event_type = t.event_type
GROUP BY h.event_type
ORDER BY h.event_type
""",
)
def events_hot_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: hours whose event count exceeds 1.5x the type's
    hourly average, flagged with an INTEGER cross-multiplied comparison
    (n * n_hours * 10 > total * 15) — no float threshold, so the oracle
    can never disagree on a boundary.

    Scale shape: hourly pre-aggregation shuffles once on (type, hour);
    the per-type totals are a second tiny aggregate joined back on the
    type key (types are few — broadcast); the flag itself is codegen."""
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.select("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"), F.sum("n").alias("total")
    )
    hot = (F.col("n") * F.col("n_hours") * 10 > F.col("total") * 15).cast("int")
    return (
        hourly.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum(hot).alias("n_hot"),
        )
        .orderBy(F.col("event_type").asc_nulls_last())
    )


@_register(
    "orders_seasonality",
    f"""
SELECT extract(month FROM o_orderdate) AS mo, isodow(o_orderdate) AS dow,
       count(*) AS n_orders, round(sum({NUM.safe_decimal('o_totalprice')}), 2)::DOUBLE AS total
FROM orders
GROUP BY mo, dow
ORDER BY mo, dow
""",
)
def orders_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar decomposition: order volume by (month, ISO weekday).
    Spark's dayofweek is 1=Sunday; remapped to ISO (1=Monday) to match
    the oracle. Decimal sum keeps the totals boundary-stable."""
    orders = _t(spark, sf_dir, "orders")
    isodow = ((F.dayofweek("o_orderdate") + 5) % 7) + 1
    return (
        orders.groupBy(
            F.month("o_orderdate").alias("mo"), isodow.alias("dow")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.expr(NUM.safe_decimal("o_totalprice"))), 2)
            .cast("double")
            .alias("total"),
        )
        .orderBy("mo", "dow")
    )


@_register(
    "q11_important_parts",
    f"""
WITH nv AS (
  SELECT l_partkey,
         sum({NUM.safe_decimal('l_extendedprice * (1 - l_discount)')}) AS value
  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
                JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
  GROUP BY l_partkey
)
SELECT l_partkey, round(value, 2)::DOUBLE AS value
FROM nv
WHERE value > (SELECT sum(value) * 0.001 FROM nv)
ORDER BY value DESC, l_partkey
""",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted: no partsupp table, lineitem value stands in
    for ps_supplycost*ps_availqty; cf. reference's absent-operator list,
    SURVEY.md §2): per-part value within a nation group, kept only when
    above a fraction of the group-total — a HAVING against a scalar
    subquery. The scalar total is one extra reduction over the already
    aggregated per-part frame (tiny), broadcast back as a 1-row join; the
    big lineitem scan is aggregated exactly once and reused for both sides
    of the comparison. Decimal accumulation keeps the threshold comparison
    boundary-stable across engines."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7", "NATION_11")
    )
    value_expr = F.expr(
        NUM.safe_decimal("l_extendedprice * (1 - l_discount)")
    )
    per_part = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(value_expr).alias("value"))
        # both the threshold scalar and the filtered output consume this
        # aggregate; Catalyst's ReuseExchange can't fire (the subtrees
        # differ past the agg), so without materialization the lineitem
        # scan+join+agg runs twice — checkpoint the ~|parts|-row frame once
        .localCheckpoint()
    )
    total = per_part.agg((F.sum("value") * F.lit(0.001)).alias("__threshold"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value") > F.col("__threshold"))
        .select(
            "l_partkey", F.round("value", 2).cast("double").alias("value")
        )
        .orderBy(F.col("value").desc(), "l_partkey")
    )


@_register(
    "q12_priority_by_linestatus",
    """
SELECT l_returnflag, l_linestatus,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: fixtures lack l_shipmode/l_receiptdate, so
    (returnflag, linestatus) stands in for shipmode and shipdate for the
    receipt window): join + conditional counting via CASE inside SUM.
    The shipdate range filter is pushed to the parquet scan (row-group
    min/max skip); only (orderkey, flags) survive projection pruning, and
    the priority CASE folds into the map-side partial agg — the shuffle
    carries 6 groups, not rows."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(is_high).alias("high_line_count"),
            F.sum(1 - is_high).alias("low_line_count"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@_register(
    "stratified_sample_split",
    f"""
WITH b AS (
  SELECT lang,
         {TXT.md5_int32("doc_id::VARCHAR", "duckdb")} % 100 AS bucket,
         {TXT.array_size(TXT.tokens("text", "duckdb"), "duckdb")} AS n_tokens
  FROM documents
)
SELECT lang,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       sum(n_tokens)::BIGINT AS total_tokens
FROM b GROUP BY lang, split
ORDER BY lang, split
""",
)
def stratified_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test corpus split: md5(doc_id) % 100 ->
    80/10/10 buckets, reported per language stratum. Content-addressed
    hashing (not rand()) means the split is reproducible run-to-run and
    machine-to-machine, survives repartitioning, and needs no stored
    assignment table — the property a 100 TB corpus split must have.
    Pure narrow map + one tiny shuffle of (lang, split) partials."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.expr(TXT.md5_int32("cast(doc_id as string)", "spark")) % 100
    return (
        docs.select(
            "lang",
            F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test")
            .alias("split"),
            F.expr(TXT.array_size(TXT.tokens("text", "spark"), "spark")).alias(
                "n_tokens"
            ),
        )
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy(F.col("lang").asc_nulls_last(), "split")
    )


_FILTER_FLAGS = ["pass_len", "pass_diversity", "pass_top_freq", "pass_word_len"]

@_register(
    "quality_filter_funnel",
    f"""
WITH b AS (
  SELECT source, {TXT.tokens('text', 'duckdb')} AS __toks FROM documents
),
b2 AS (
  SELECT source, __toks, list_distinct(__toks) AS __dtoks FROM b
),
f AS (
  SELECT source,
         {", ".join(f"{expr} AS {name}" for name, expr in text_analysis.filter_flag_exprs("text", "duckdb", toks_col="__toks", dtoks_col="__dtoks").items())}
  FROM b2
)
SELECT source, count(*) AS n_docs,
       {", ".join(f"sum({n})::BIGINT AS n_{n}" for n in _FILTER_FLAGS)},
       sum({" * ".join(_FILTER_FLAGS)})::BIGINT AS n_pass_all
FROM f GROUP BY source
ORDER BY source
""",
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-cleaning funnel: per-source document counts passing each
    Gopher-style quality filter (token count, lexical diversity, top-token
    frequency, mean word length) and all four together. The token arrays
    are bound projection columns (the top-freq flag would otherwise
    re-tokenize per distinct token — see filter_flag_exprs); the only
    shuffle is |sources| partial-sum rows."""
    # parallel CPU-heavy scan (round 15 opt, A/B 0.57 -> 0.49 s) — see
    # events_json_stats
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    flags = text_analysis.filter_flag_exprs(
        "text", "spark", toks_col="__toks", dtoks_col="__dtoks"
    )
    flagged = (
        docs.withColumns({"__toks": F.expr(TXT.tokens("text", "spark"))})
        .withColumns({"__dtoks": F.expr("array_distinct(__toks)")})
        .select(
            "source",
            *[F.expr(expr).alias(name) for name, expr in flags.items()],
        )
    )
    all_pass = F.expr(" * ".join(_FILTER_FLAGS))
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            *[F.sum(n).alias(f"n_{n}") for n in _FILTER_FLAGS],
            F.sum(all_pass).alias("n_pass_all"),
        )
        .orderBy(F.col("source").asc_nulls_last())
    )


@_register(
    "dedup_clusters",
    f"""
SELECT cluster_size, count(*) AS n_clusters FROM (
  SELECT component, count(*) AS cluster_size FROM (
    {dedup.connected_components_sql(dedup.rolling_window_pairs_sql("documents", "doc_id", "text"))}
  ) GROUP BY component
) GROUP BY cluster_size
ORDER BY cluster_size
""",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram: rolling-window fingerprint pairs ->
    connected components (iterative min-label propagation, the one
    genuinely iterative algorithm in the registry) -> component sizes.
    The oracle computes the same components by recursive-CTE transitive
    closure; the Spark loop does it in diameter-many |E|-sized rounds."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.rolling_window_pairs(docs, "doc_id", "text")
    comp = dedup.connected_components(pairs)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


@_register(
    "session_window_stats",
    """
WITH x AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM x
)
SELECT n_events, count(*) AS n_sessions FROM (
  SELECT user_id, sid, count(*) AS n_events FROM s GROUP BY user_id, sid
) GROUP BY n_events
ORDER BY n_events
""",
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with Spark's native ``session_window`` (the
    same operator the streaming path uses), summarized as a session-size
    histogram. Session merge rule is half-open ([start, last+gap)): events
    exactly gap apart start a new session — the oracle's gaps-and-islands
    uses >= to match. One shuffle on user_id builds sessions; the
    histogram shuffles |distinct sizes| partials. NULL event times are
    excluded at the scan on both sides — session_window silently turns
    them into their own degenerate sessions while gaps-and-islands
    oracles sort them engine-dependently (round-8 probe), so exclusion
    is the only cross-engine-stable semantics."""
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    sessions = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return (
        sessions.groupBy("n_events")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy("n_events")
    )


@_register(
    "udtf_repeated_tokens",
    f"""
WITH rt AS (
  SELECT doc_id, tok AS token, count(*) AS n
  FROM (SELECT doc_id, unnest({TXT.tokens("text", "duckdb")}) AS tok FROM documents)
  GROUP BY doc_id, tok HAVING count(*) >= 3
)
SELECT token, count(*) AS n_docs, sum(n)::BIGINT AS total_occurrences
FROM rt GROUP BY token
ORDER BY total_occurrences DESC, token
LIMIT 20
""",
)
def udtf_repeated_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4, Arrow-optimized): a lateral
    table-function expands each document into its within-doc repeated
    tokens (count >= 3), then a plain agg ranks tokens by total repeated
    occurrences. The UDTF is embarrassingly parallel over document rows
    and Arrow-batched (never row-pickled); everything after it is
    codegen. Demonstrates UDTF registration + SQL LATERAL — for pure
    token math the built-in explode path (see token_stats) is still the
    preferred plan."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, token string, n int", useArrow=True)
    class RepeatedTokens:
        def eval(self, doc_id, text):
            import re
            from collections import Counter

            if not text:  # null/empty documents yield no tokens — the
                # same zero rows the oracle's unnest(NULL) produces
                return
            # split FIRST on the ASCII class, then lower the pure-ASCII
            # tokens: equivalent to functions.text.tokens' ascii_lower
            # construction, and unlike text.lower() it cannot diverge
            # from the oracle on full-case-mapping chars (U+0130)
            toks = [
                t.lower() for t in re.split(r"[^a-zA-Z0-9]+", text) if t
            ]
            for tok, cnt in Counter(toks).items():
                if cnt >= 3:
                    yield doc_id, tok, cnt

    spark.udtf.register("repeated_tokens", RepeatedTokens)
    # parallel CPU-heavy scan (round 15 opt, A/B 1.00 -> 0.55 s): the
    # UDTF crosses the Python boundary per partition; a 1-task input
    # serializes every eval call — see events_json_stats
    ensure_parallelism(
        _t(spark, sf_dir, "documents")
    ).createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT token, count(*) AS n_docs, sum(n) AS total_occurrences
        FROM __udtf_docs, LATERAL repeated_tokens(doc_id, text)
        GROUP BY token
        ORDER BY total_occurrences DESC, token
        LIMIT 20
        """
    )


@_register(
    "streaming_static_enrich",
    """
SELECT c_mktsegment, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: events stream enriched with a broadcast
    customer dimension, summarized per market segment. Must equal the
    batch join exactly. See ``streaming.events.static_enrich`` for the
    state/scale discussion (no state store; dim broadcast per trigger)."""
    return streaming_events.static_enrich(spark, sf_dir)


@_register(
    "orc_roundtrip",
    """
SELECT l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink+source round-trip: write a lineitem projection to ORC
    (Spark's second native columnar format — same vectorized reader,
    predicate pushdown, and maxRecordsPerFile controls as Parquet), read
    it back and aggregate. Proves format interchange preserves values
    exactly; the write is a narrow projection so only 4 columns hit disk."""
    from polario_spark.plans.parallelism import ensure_parallelism

    # parallel write input (round 15 opt) — see csv_roundtrip
    li = ensure_parallelism(
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linestatus", "l_quantity", "l_extendedprice"
        )
    )
    tmp = work_dir(spark, "orc_roundtrip")
    li.write.mode("overwrite").orc(f"{tmp}/lineitem")
    back = spark.read.orc(f"{tmp}/lineitem")
    return (
        back.groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("l_linestatus")
    )


@_register(
    "ntile_price_deciles",
    """
SELECT o_orderpriority, decile, count(*) AS n,
       round(avg(o_totalprice), 2) AS avg_price,
       round(max(o_totalprice), 2) AS max_price
FROM (
  SELECT o_orderpriority, o_totalprice,
         ntile(10) OVER (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
GROUP BY o_orderpriority, decile
ORDER BY o_orderpriority, decile
""",
)
def ntile_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows: ntile(10) deciles of order value within each
    priority class. The window partitions by priority so no key funnels
    the whole table into one task; a GLOBAL quantile at 100 TB would use
    approx_percentile (t-digest, map-side combinable) instead of a
    single-partition ranking window — that rule is the point of this
    entry. Tie-broken on o_orderkey for a total order."""
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_totalprice", F.ntile(10).over(w).alias("decile"))
        .groupBy("o_orderpriority", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("o_orderpriority", "decile")
    )


@_register(
    "range_join_value_buckets",
    """
SELECT band, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events
JOIN (VALUES ('000-050', 0.0, 50.0), ('050-100', 50.0, 100.0),
             ('100-200', 100.0, 200.0), ('200-300', 200.0, 300.0),
             ('300-500', 300.0, 500.0)) AS b(band, lo, hi)
  ON value >= lo AND value < hi
GROUP BY band
ORDER BY band
""",
)
def range_join_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join: events banded against an interval dimension
    via value >= lo AND value < hi. With a tiny broadcast dim this plans
    as BroadcastNestedLoopJoin — O(rows x bands) comparisons inside each
    task, no shuffle of the fact side, which is the right physical shape
    for any dim that fits in memory. For large interval tables the
    scalable rewrite is bin-and-equi-join: explode each interval into
    fixed-width bins, join on floor(value/width), re-check the exact
    bounds — turning the range join into a shuffle-free broadcast
    equi-join on an integer key."""
    bands = spark.createDataFrame(
        [
            ("000-050", 0.0, 50.0),
            ("050-100", 50.0, 100.0),
            ("100-200", 100.0, 200.0),
            ("200-300", 200.0, 300.0),
            ("300-500", 300.0, 500.0),
        ],
        "band string, lo double, hi double",
    )
    ev = _t(spark, sf_dir, "events").select("value")
    return (
        ev.join(
            F.broadcast(bands),
            (ev.value >= bands.lo) & (ev.value < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("band")
    )


@_register(
    "range_join_binned",
    """
SELECT band, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events
JOIN (VALUES ('000-050', 0.0, 50.0), ('050-100', 50.0, 100.0),
             ('100-200', 100.0, 200.0), ('200-300', 200.0, 300.0),
             ('300-500', 300.0, 500.0)) AS b(band, lo, hi)
  ON value >= lo AND value < hi
GROUP BY band
ORDER BY band
""",
)
def range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALABLE form of range_join_value_buckets — bin-and-equi-join:
    each interval explodes into fixed-width bins, facts compute
    floor(value/width) once, the join becomes a broadcast HASH equi-join
    on the integer bin key (not a nested-loop scan of every interval per
    row), and the exact bounds re-check after the join removes bin-edge
    false positives. Same result as the nested-loop entry by
    construction — the oracle is identical — so the pair pins that the
    rewrite is semantics-preserving. Right when the interval table is too
    large for per-row linear scans; per-row work drops from O(|intervals|)
    to O(1) + the per-bin fan-out (intervals/width overlap)."""
    width = 25
    bands = spark.createDataFrame(
        [
            ("000-050", 0.0, 50.0),
            ("050-100", 50.0, 100.0),
            ("100-200", 100.0, 200.0),
            ("200-300", 200.0, 300.0),
            ("300-500", 300.0, 500.0),
        ],
        "band string, lo double, hi double",
    )
    # hi > lo guard: sequence(a, b) with b < a yields a DESCENDING
    # sequence, not an empty array, so a degenerate interval (hi <= lo)
    # would fan out into spurious bins. No such interval exists in this
    # band table, but the rewrite must stay safe if it ever changes —
    # a degenerate interval matches nothing, so dropping it is exact.
    binned = bands.filter(F.col("hi") > F.col("lo")).withColumn(
        "bin",
        F.explode(
            F.expr(
                f"sequence(cast(floor(lo / {width}) as int), "
                f"cast(ceil(hi / {width}) as int) - 1)"
            )
        ),
    )
    ev = _t(spark, sf_dir, "events").select(
        "value", F.floor(F.col("value") / width).cast("int").alias("bin")
    )
    return (
        ev.join(F.broadcast(binned), "bin")
        .filter((F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("band")
    )


@_register(
    "ols_price_per_brand",
    """
SELECT p_brand,
       -- + 0.0 normalizes a rounded near-zero-negative slope/intercept
       -- to +0.0, matching the Python kernel's identical normalization
       -- (round-9 negative-zero probe)
       round(regr_slope(l_extendedprice, l_quantity), 2) + 0.0 AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 2) + 0.0 AS intercept,
       count(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
""",
)
def ols_price_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map numerical kernel: per-brand ordinary-least-squares fit
    of extendedprice on quantity via ``applyInPandas`` (closed-form
    slope/intercept in numpy, one Arrow batch per brand). The oracle is
    DuckDB's regr_slope/regr_intercept — proving the Python kernel matches
    the SQL aggregate bit-for-bit after 2dp rounding. The join broadcasts
    part's 2 needed columns; the grouped map shuffles only (brand, x, y)
    triples. At 100 TB the same kernel holds as long as no single group
    exceeds task memory — else rewrite as the map-side-combinable
    sum-of-moments aggregate (which is exactly what regr_slope is)."""
    import numpy as np

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = li.join(part, li.l_partkey == part.p_partkey).select(
        "p_brand",
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    )

    def ols(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["x"].to_numpy(dtype=np.float64)
        y = pdf["y"].to_numpy(dtype=np.float64)
        mx, my = x.mean(), y.mean()
        cov = ((x - mx) * (y - my)).sum()
        var = ((x - mx) ** 2).sum()
        slope = cov / var
        return pd.DataFrame(
            {
                "p_brand": [pdf["p_brand"].iloc[0]],
                # + 0.0: Python round keeps -0.0 for near-zero-negative
                # inputs; normalize to +0.0 on both engines (the oracle
                # adds the same) so the formatted hash cannot split on
                # the sign of zero
                "slope": [round(slope, 2) + 0.0],
                "intercept": [round(my - slope * mx, 2) + 0.0],
                "n": [len(pdf)],
            }
        )

    return (
        joined.groupBy("p_brand")
        .applyInPandas(ols, "p_brand string, slope double, intercept double, n long")
        .orderBy("p_brand")
    )


@_register(
    "full_outer_nation_presence",
    """
SELECT coalesce(a.c_nationkey, b.s_nationkey) AS nationkey,
       coalesce(a.n_customers, 0) AS n_customers,
       coalesce(b.n_suppliers, 0) AS n_suppliers,
       CASE WHEN a.c_nationkey IS NULL THEN 'supplier_only'
            WHEN b.s_nationkey IS NULL THEN 'customer_only'
            ELSE 'both' END AS presence
FROM (SELECT c_nationkey, count(*) AS n_customers
      FROM customer WHERE c_nationkey <= 14 GROUP BY c_nationkey) a
FULL OUTER JOIN
     (SELECT s_nationkey, count(*) AS n_suppliers
      FROM supplier WHERE s_nationkey >= 10 GROUP BY s_nationkey) b
  ON a.c_nationkey = b.s_nationkey
ORDER BY nationkey
""",
)
def full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with both null sides exercised (customer side
    covers nations 0-14, supplier side 10-24 — disjoint tails by
    construction), coalesced into a presence classification. Both inputs
    are pre-aggregated to ~25 rows before joining (full outer plans as
    SortMergeJoin — Spark's broadcast hash join cannot preserve both null
    sides); the pattern scales because the shuffle is on the
    already-reduced aggregates, never the base tables."""
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") <= 14)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") >= 10)
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    j = cust.join(supp, cust.c_nationkey == supp.s_nationkey, "full_outer")
    return j.select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        F.when(F.col("c_nationkey").isNull(), "supplier_only")
        .when(F.col("s_nationkey").isNull(), "customer_only")
        .otherwise("both")
        .alias("presence"),
    ).orderBy("nationkey")


@_register(
    "upsert_roundtrip",
    """
WITH updates AS (
  SELECT o_orderkey, o_totalprice + 1000 AS new_price
  FROM orders WHERE o_orderkey % 10 = 0
), inserts AS (
  SELECT -o_orderkey AS o_orderkey, 'N' AS o_orderstatus,
         o_totalprice * 2 AS o_totalprice
  FROM orders WHERE o_orderkey % 97 = 0 AND o_orderkey > 0
), merged AS (
  SELECT o.o_orderkey, o.o_orderstatus,
         coalesce(u.new_price, o.o_totalprice) AS o_totalprice
  FROM orders o LEFT JOIN updates u ON o.o_orderkey = u.o_orderkey
  UNION ALL
  SELECT * FROM inserts
)
SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert (MERGE) on plain parquet: apply an updates set (fixed price
    adjustment — exactly representable, so no engine-rounding drift) and
    an inserts set (synthetic negative-key rows) to the orders
    table with the left-join + coalesce + union rewrite, write the merged
    table to parquet, read it back, and aggregate. This is the
    transactionless shape of what Delta's MERGE INTO executes under a
    transaction log (see DeltaDataset); on a partitioned target the
    rewrite joins only the touched partitions (dynamic overwrite scopes
    the commit). Updates join on the primary key — broadcastable while
    the changeset is small, shuffle-hash beyond that."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", (F.col("o_totalprice") + 1000).alias("new_price")
    )
    inserts = orders.filter(
        (F.col("o_orderkey") % 97 == 0) & (F.col("o_orderkey") > 0)
    ).select(
        (-F.col("o_orderkey")).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
    )
    merged = (
        orders.join(updates, "o_orderkey", "left_outer")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.coalesce("new_price", "o_totalprice").alias("o_totalprice"),
        )
        .unionByName(inserts)
    )
    tmp = work_dir(spark, "upsert_roundtrip")
    merged.write.mode("overwrite").parquet(f"{tmp}/orders")
    back = spark.read.parquet(f"{tmp}/orders")
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy(F.col("o_orderstatus").asc_nulls_last())
    )


@_register(
    "approx_price_quantiles",
    """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
       round(quantile_cont(o_totalprice, 0.50), 2) AS p50,
       round(quantile_cont(o_totalprice, 0.75), 2) AS p75,
       round(quantile_cont(o_totalprice, 0.95), 2) AS p95,
       TRUE AS approx_within_tol,
       count(*) AS n
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def approx_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based quantiles: approx_percentile (Greenwald-Khanna) of
    order value per priority class — the map-side-combinable path for
    global/grouped quantiles at 100 TB, where an exact sort-based
    percentile would shuffle the full table. Hash-gated: the output
    carries the *exact* interpolated percentiles (== DuckDB
    quantile_cont) flattened to scalar columns, plus a boolean asserting
    the GK sketch landed within 2% of each exact value — so the sketch
    is still exercised while the oracle stays deterministic."""
    qs = [0.25, 0.5, 0.75, 0.95]
    agg = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.percentile_approx("o_totalprice", qs, 10000).alias("approx_q"),
            F.expr(
                "percentile(o_totalprice, array(0.25D, 0.5D, 0.75D, 0.95D))"
            ).alias("exact_q"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    within = F.lit(True)
    for i in range(len(qs)):
        within = within & (
            F.abs(F.col("approx_q")[i] - F.col("exact_q")[i])
            <= F.greatest(0.02 * F.abs(F.col("exact_q")[i]), F.lit(1.0))
        )
    return agg.select(
        "o_orderpriority",
        F.round(F.col("exact_q")[0], 2).alias("p25"),
        F.round(F.col("exact_q")[1], 2).alias("p50"),
        F.round(F.col("exact_q")[2], 2).alias("p75"),
        F.round(F.col("exact_q")[3], 2).alias("p95"),
        within.alias("approx_within_tol"),
        "n",
    ).orderBy("o_orderpriority")


#: events_gapfill refuses to build an hourly spine longer than this —
#: ~114 years. Any real event table fits; a span beyond it means a
#: corrupt outlier timestamp is about to turn the one-row sequence()
#: into a multi-hundred-MB broadcast (round-8 temporal-adversary probe).
MAX_GAPFILL_SPINE_HOURS = 1_000_000


@_register(
    "events_gapfill",
    """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         count(*) AS n, round(sum(value), 2) AS sv
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events
), spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds
), grid AS (
  SELECT t.event_type, s.h
  FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN spine s
)
SELECT g.event_type, strftime(g.h, '%Y-%m-%d %H:00:00') AS hour,
       coalesce(hr.n, 0) AS n_events,
       CASE WHEN hr.n IS NULL THEN 1 ELSE 0 END AS is_gap,
       last_value(hr.sv IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_sum_value
FROM grid g
LEFT JOIN hourly hr ON g.event_type = hr.event_type AND g.h = hr.h
ORDER BY g.event_type, hour
""",
)
def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling + forward fill: a dense hourly spine
    (``sequence`` + ``explode`` from the observed min/max — no driver
    round-trip) cross-joined with the type dimension, left-joined to the
    observed hourly aggregates, missing hours zero-filled and the last
    observed value carried forward with ``last(ignorenulls)`` over a
    running frame. The spine is O(hours x types) — tiny relative to the
    events, so the cross join broadcasts; the only event-sized shuffle is
    the hourly pre-aggregation. This is the standard composition for an
    operator Spark lacks natively (Flink/TimescaleDB gap-fill).

    Poison guard (round-8 temporal-adversary probe): the "spine is tiny"
    assumption dies with ONE corrupt outlier timestamp — a single
    year-9999 row stretches the observed span to ~70M hours, turning the
    one-row ``sequence`` into a multi-hundred-MB array that is then
    exploded and BROADCAST: the job hangs/OOMs instead of erroring. The
    span is therefore checked inside the same aggregate row that feeds
    the sequence (zero extra passes) and the write refuses loudly past
    ``MAX_GAPFILL_SPINE_HOURS`` — at 100 TB you want the name of the
    poisoned bound, not a dead executor."""
    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("h"), "event_type", "value"
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sv")
    )
    spine = (
        ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .withColumn(
            "lo",
            F.when(
                (F.unix_timestamp("hi") - F.unix_timestamp("lo"))
                > MAX_GAPFILL_SPINE_HOURS * 3600,
                F.raise_error(
                    F.concat(
                        F.lit(
                            "events_gapfill: observed ts span exceeds "
                            f"{MAX_GAPFILL_SPINE_HOURS} hours (lo="
                        ),
                        F.col("lo").cast("string"),
                        F.lit(", hi="),
                        F.col("hi").cast("string"),
                        F.lit(
                            "); an outlier timestamp would explode the "
                            "hourly spine — filter the corrupt rows "
                            "first"
                        ),
                    )
                ).cast("timestamp"),
            ).otherwise(F.col("lo")),
        )
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("h")
        )
    )
    grid = ev.select("event_type").distinct().crossJoin(F.broadcast(spine))
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["event_type", "h"], "left_outer")
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:00:00").alias("hour"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.when(F.col("n").isNull(), 1).otherwise(0).alias("is_gap"),
            F.last("sv", ignorenulls=True).over(w).alias("ffill_sum_value"),
        )
        .orderBy(F.col("event_type").asc_nulls_last(), "hour")
    )


@_register(
    "streaming_foreachbatch_totals",
    """
SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def streaming_foreachbatch_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch custom sink: per-batch partials appended to a parquet
    ledger, compacted to totals — must equal the plain batch aggregate.
    See ``streaming.events.foreachbatch_totals`` for the idempotence
    (batch_id) and partial->final discussion."""
    return streaming_events.foreachbatch_totals(spark, sf_dir)


@_register(
    "incremental_rollup",
    """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
""",
)
def incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance (the hypertable/materialized-rollup
    pattern) on the HiveDataset layer: a daily-partitioned aggregate
    table is built for the history, then the hot tail is recomputed and
    committed with dynamic partition overwrite — only the touched
    day-partitions are rewritten, history is untouched bytes. The
    read-back must equal the full batch aggregate, proving the
    incremental path converges to the batch answer. At 100 TB the
    rewrite cost is O(hot days), not O(table), and the rollup read is
    O(days x types) instead of O(events)."""
    ev = _t(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type", "value"
    )
    daily = ev.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    # Round 16 (opt): both writes consume the SAME daily aggregate — a
    # lazy localCheckpoint materializes it once (days x types rows,
    # driver-tiny at any scale), so the hot-tail refresh filters the
    # materialized aggregate instead of re-scanning and re-aggregating
    # the events table (one corpus scan per entry, not two; the refresh
    # write still touches only the hot day-partitions). Interleaved A/B
    # at sf0.1: wins 4/4 pairs, mean 1.83 -> 1.64 s, row-identical.
    daily = daily.localCheckpoint(eager=False)
    cutoff = "2024-01-26"
    tmp = work_dir(spark, "incremental_rollup")
    ds = HiveDataset(spark, f"{tmp}/rollup", ["day"])
    ds.write(daily.filter(F.col("day") < cutoff))  # historical build
    # hot-tail refresh: dynamic overwrite touches only these partitions
    ds.write(daily.filter(F.col("day") >= cutoff))
    scanned = ds.scan()
    if scanned is None:  # no events at all -> empty rollup, not an error
        return spark.createDataFrame(
            [],
            "day string, event_type string, n_events bigint, sum_value double",
        )
    return (
        scanned
        .select("day", "event_type", "n_events", "sum_value")
        .orderBy("day", F.col("event_type").asc_nulls_last())
    )


@_register(
    "events_variant_extract",
    f"""
WITH g AS (
  SELECT event_type,
         CASE WHEN json_valid(props) THEN props END AS vp
  FROM events
),
h AS (
  SELECT event_type,
         CASE WHEN len(json_keys(vp)) = len(list_distinct(json_keys(vp)))
              THEN json_extract_string(vp, '$.k') END AS s
  FROM g
)
SELECT event_type,
       count(*) AS n,
       sum(k)::BIGINT AS sum_k,
       min(k) AS min_k,
       max(k) AS max_k
FROM (
  SELECT event_type,
         CASE WHEN regexp_matches(s, '{_JSON_INT_RE}') THEN CAST(s AS BIGINT) END AS k
  FROM h
)
GROUP BY event_type
ORDER BY event_type
""",
)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): ``parse_json`` the props
    column into a VariantType once, extract typed fields with
    ``variant_get``. Variant keeps the parsed binary form through the
    plan, so repeated field extraction never re-parses the JSON text —
    the 100 TB answer to logs with open schemas (vs from_json, which
    needs the schema up front, see events_json_stats).

    Hardened (round-9 JSON adversary probe): extraction is as STRING +
    ``_JSON_INT_RE`` gate, because ``try_variant_get(..., 'int')`` has
    its OWN third set of numeric coercions (1.9 truncates to 1 where
    DuckDB's cast rounds to 2 and the string-gate nulls; true -> 1).
    The string forms agree between variant and DuckDB for everything
    the regex admits. Duplicate-key objects: Spark's variant builder
    REJECTS them (try_parse_json -> NULL, all fields null) — the oracle
    mirrors with a json_keys/distinct census. Caveat, pinned in
    tests/test_json_adversaries.py: variant rejects duplicates at ANY
    nesting depth while the oracle's census sees the TOP level; a
    nested-duplicate document whose $.k is itself a clean integer would
    diverge — accepted, since such a document is corrupt by the variant
    spec and the operator's job is to not die on it."""
    # parallel CPU-heavy scan (round 15 opt, A/B 0.62 -> 0.52 s) — see
    # events_json_stats
    ev = ensure_parallelism(_t(spark, sf_dir, "events")).select(
        "event_type",
        # try_parse_json, not parse_json: one malformed props row in a
        # 100 TB log stream must become a NULL variant (excluded from
        # the typed aggregates below), not abort the whole job
        F.try_parse_json("props").alias("v"),
    )
    s = F.try_variant_get("v", "$.k", "string")
    k = F.when(s.rlike(_JSON_INT_RE), s.cast("bigint"))
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy(F.col("event_type").asc_nulls_last())
    )


@_register(
    "compact_roundtrip",
    """
SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction in the gate: write orders partitioned by
    status with tiny fragments (append-history simulation), ``compact()``
    down to target-size fragments, and prove the data survives byte-exact.
    Fragment count must strictly drop — asserted here so the gate fails
    if compaction ever stops compacting. See HiveDataset.compact for the
    per-partition scoping that bounds the rewrite at scale."""
    from polario_spark import unwrap
    from polario_spark.plans.parallelism import ensure_parallelism

    # Round 15 (opt): the append-history write below fans one input row
    # stream into ~300 tiny fragments; from the bench corpus's
    # single-row-group scan that was ONE task creating every file
    # serially (measured 3.0-5.1 s of the entry's 4.0 s — guide §2.5
    # input skew: an unsplittable input serializes everything above it).
    # ensure_parallelism round-robins the degenerate scan up to core
    # width so fragment creation is parallel; on any real multi-file
    # input it is the identity. Fragment contract unchanged: every file
    # still holds <= max_rows_per_fragment rows and compact() must still
    # strictly reduce the count.
    orders = ensure_parallelism(
        _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_totalprice",
            F.col("o_orderstatus").cast("string").alias("status"),
        )
    )
    tmp = work_dir(spark, "compact_roundtrip")
    ds = HiveDataset(
        spark, f"{tmp}/orders", ["status"], max_rows_per_fragment=500
    )
    ds.write(orders)
    before = sum(
        len(ds.url.list_parquet_files(ds.url.join(p)))
        for p in ds._partition_paths()  # noqa: SLF001
    )
    ds.max_rows_per_fragment = 1_000_000
    ds.compact()
    after = sum(
        len(ds.url.list_parquet_files(ds.url.join(p)))
        for p in ds._partition_paths()  # noqa: SLF001
    )
    if after >= before:
        raise AssertionError(f"compact did not reduce fragments: {before}->{after}")
    return (
        unwrap(ds.scan())
        .groupBy(F.col("status").alias("o_orderstatus"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy(F.col("o_orderstatus").asc_nulls_last())
    )


@_register(
    "embedding_dim_stats",
    f"""
SELECT i AS dim, round(avg(embedding[i + 1]), 4) + 0.0 AS avg_val,
       round(stddev_samp(embedding[i + 1]), 4) AS std_val,
       round(min(embedding[i + 1]), 4)::DOUBLE + 0.0 AS min_val,
       round(max(embedding[i + 1]), 4)::DOUBLE + 0.0 AS max_val
FROM (SELECT * FROM embeddings
      WHERE {similarity.well_formed_sql('embedding', 64)}), range(0, 64) t(i)
GROUP BY 1
ORDER BY dim
""",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution statistics over the embedding column via
    ``posexplode`` — the feature-drift / normalization profile a vector
    pipeline computes before indexing. The explode emits (dim, val) pairs
    — O(n x d) narrow rows that partial-aggregate map-side down to d rows
    before the shuffle, so the exchange carries 64 rows per task no
    matter the corpus size. (The DuckDB oracle indexes the array against
    a range table — same arithmetic, no ordinality needed.) Malformed
    vectors (ragged/NULL/NaN/Inf) are shed at the scan both sides: one
    Inf component overflows DuckDB's STDDEV accumulator outright, and a
    NaN would silently poison a dimension's whole profile (round-8
    probe)."""
    emb = similarity.well_formed_vectors(
        _t(spark, sf_dir, "embeddings"), "embedding", 64
    ).select(
        F.posexplode("embedding").alias("dim", "val")
    )
    # + 0.0 normalizes IEEE negative zero: Spark's round goes through
    # BigDecimal (no -0.0, yields +0.0) while DuckDB's keeps the double's
    # sign — a stat that rounds to zero would otherwise hash as "-0.0"
    # on one side and "0.0" on the other (observed at sf0.1, dim 24)
    return (
        emb.groupBy("dim")
        .agg(
            (F.round(F.avg("val"), 4) + 0.0).alias("avg_val"),
            F.round(F.stddev_samp("val"), 4).alias("std_val"),
            (F.round(F.min("val"), 4).cast("double") + 0.0).alias("min_val"),
            (F.round(F.max("val"), 4).cast("double") + 0.0).alias("max_val"),
        )
        .orderBy("dim")
    )


@_register(
    "unpivot_lineitem_measures",
    """
WITH wide AS (
  SELECT l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc
  FROM lineitem GROUP BY l_linestatus
)
SELECT l_linestatus, measure, value FROM (
  SELECT l_linestatus, 'sum_qty' AS measure, sum_qty AS value FROM wide
  UNION ALL
  SELECT l_linestatus, 'sum_base', sum_base FROM wide
  UNION ALL
  SELECT l_linestatus, 'sum_disc', sum_disc FROM wide
)
ORDER BY l_linestatus, measure
""",
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): a wide per-status aggregate turned long with
    ``DataFrame.unpivot`` — pivot's inverse (see pivot_returnflag for the
    other direction). Unpivot is a narrow per-row expansion (no shuffle);
    the only exchange is the upstream aggregation's. The measures are
    rounded before melting so both engines stringify identical doubles."""
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_linestatus"], ["sum_qty", "sum_base", "sum_disc"], "measure", "value"
    ).orderBy("l_linestatus", "measure")


@_register(
    "set_ops_all",
    """
WITH heavy AS (SELECT l_partkey FROM lineitem WHERE l_quantity > 45),
     returned AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R')
SELECT
  (SELECT count(*) FROM (SELECT * FROM heavy INTERSECT ALL SELECT * FROM returned)) AS n_intersect_all,
  (SELECT count(*) FROM (SELECT * FROM heavy EXCEPT ALL SELECT * FROM returned)) AS n_except_all,
  (SELECT count(*) FROM (SELECT * FROM heavy INTERSECT SELECT * FROM returned)) AS n_intersect,
  (SELECT count(*) FROM (SELECT * FROM heavy EXCEPT SELECT * FROM returned)) AS n_except
""",
)
def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations: INTERSECT ALL / EXCEPT ALL preserve
    multiplicity (min / saturating difference of per-value counts) vs the
    distinct variants — the duplicate-aware contrast `parts_set_ops`
    doesn't cover. Spark plans ALL-variants as an aggregate of per-side
    counts joined on value (one shuffle each) — no row-pair explosion at
    any scale. Note this entry deliberately exercises the four operators,
    which costs one scan pair per op (8 scans total, no subplan CSE); a
    production job computing several set measures at once should instead
    aggregate per-value counts ONCE and derive all four as
    sum(least(c1,c2)) / sum(greatest(c1-c2,0)) / count_if(c1>0 AND c2>0)
    / count_if(c1>0 AND c2=0) — one scan, one shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    heavy = li.filter(F.col("l_quantity") > 45).select("l_partkey")
    returned = li.filter(F.col("l_returnflag") == "R").select("l_partkey")

    def n(df: DataFrame, alias: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias(alias))

    # one declarative plan (cross joins of 1-row aggregates), no driver
    # round-trips — the scalar-subquery shape of the oracle
    return (
        n(heavy.intersectAll(returned), "n_intersect_all")
        .crossJoin(n(heavy.exceptAll(returned), "n_except_all"))
        .crossJoin(n(heavy.intersect(returned), "n_intersect"))
        .crossJoin(n(heavy.subtract(returned), "n_except"))
    )


@_register(
    "region_nation_list",
    """
SELECT r_name, count(*) AS n_nations,
       string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
""",
)
def region_nation_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic array aggregation: collect_list is order-nondeterministic
    under parallel merge, so every list-valued aggregate must be sorted
    (sort_array) before presentation/hashing — here flattened with
    array_join to match SQL string_agg(ORDER BY). The rule that makes
    array results reproducible on any cluster."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        nation.join(
            F.broadcast(region),
            nation.n_regionkey == region.r_regionkey,
        )
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
        )
        .orderBy("r_name")
    )


@_register(
    "dq_violations",
    """
SELECT
  count(*) AS n_rows,
  sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_keys,
  sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)::BIGINT AS nonpositive_qty,
  sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END)::BIGINT AS negative_price,
  sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END)::BIGINT
    AS discount_out_of_range,
  sum(CASE WHEN l_shipdate < TIMESTAMP '1992-01-01'
             OR l_shipdate >= TIMESTAMP '2005-01-01' THEN 1 ELSE 0 END)::BIGINT
    AS shipdate_out_of_range,
  sum(CASE WHEN l_tax < 0 OR l_tax > 0.08 THEN 1 ELSE 0 END)::BIGINT
    AS tax_out_of_range,
  sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END)::BIGINT
    AS bad_returnflag
FROM lineitem
""",
)
def dq_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit: every expectation (null keys, non-positive
    quantities, out-of-range discounts/taxes/dates, enum domain)
    evaluated as a conditional sum in ONE scan pass — the cheap
    always-on gate a 100 TB ingest runs before committing a batch, in
    contrast to one-query-per-rule frameworks that rescan per check. All
    expressions live in the scan's codegen stage; the exchange carries a
    single partial-sums row per task."""
    li = _t(spark, sf_dir, "lineitem")

    def viol(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).alias(name)

    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        viol(F.col("l_orderkey").isNull(), "null_keys"),
        viol(F.col("l_quantity") <= 0, "nonpositive_qty"),
        viol(F.col("l_extendedprice") < 0, "negative_price"),
        viol(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1),
            "discount_out_of_range",
        ),
        viol(
            (F.col("l_shipdate") < F.lit("1992-01-01").cast("timestamp"))
            | (F.col("l_shipdate") >= F.lit("2005-01-01").cast("timestamp")),
            "shipdate_out_of_range",
        ),
        viol((F.col("l_tax") < 0) | (F.col("l_tax") > 0.08), "tax_out_of_range"),
        viol(~F.col("l_returnflag").isin("A", "N", "R"), "bad_returnflag"),
    )


@_register(
    "recursive_month_spine",
    """
WITH RECURSIVE months(m, hi) AS (
  SELECT date_trunc('month', min(o_orderdate)),
         date_trunc('month', max(o_orderdate))
  FROM orders
  UNION ALL
  SELECT m + INTERVAL 1 MONTH, hi FROM months WHERE m < hi
), per_month AS (
  SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n,
         round(sum(o_totalprice), 2) AS total
  FROM orders GROUP BY 1
)
SELECT strftime(months.m, '%Y-%m') AS month,
       coalesce(per_month.n, 0) AS n_orders,
       coalesce(per_month.total, 0.0) AS total_price
FROM months LEFT JOIN per_month ON months.m = per_month.m
ORDER BY month
""",
)
def recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): a month spine grown
    recursively from the observed order-date bounds, left-joined to
    per-month aggregates so empty months surface as zero rows. The same
    dense-spine semantics as events_gapfill but expressed in pure SQL
    recursion. The date bounds ride ALONG the recursion as a carried
    column — an anchor-only scan; putting the max-date subquery in the
    recursive step's WHERE would rescan the fact table once per
    iteration (measured 10.5s -> ~1s at sf0.1). For deep recursions
    prefer the closed-form sequence()+explode; depth here is O(months).

    Depth safety (round-8 calendar-adversary probe): Spark's default
    recursion ceiling is spark.sql.cteRecursionLevelLimit = 100 LEVELS —
    the clean fixture spans 80 months, so one more fixture year of legit
    history would have killed this entry with an opaque
    RECURSION_LEVEL_LIMIT_EXCEEDED. The CTE now declares MAX RECURSION
    LEVEL 2400 (200 years of months), and the anchor carries a
    raise_error span guard so a corrupt outlier date (one year-0001 or
    9999 row stretches the spine to ~120k months) refuses with the
    poisoned bounds named instead of iterating toward the ceiling —
    same poison-vs-size doctrine as events_gapfill's spine guard."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__rec_orders")
    return spark.sql(
        """
        WITH RECURSIVE months(m, hi) MAX RECURSION LEVEL 2400 AS (
          SELECT CASE
                   WHEN months_between(date_trunc('month', max(o_orderdate)),
                                       date_trunc('month', min(o_orderdate))) > 2398
                   THEN raise_error(concat(
                     'recursive_month_spine: observed o_orderdate span exceeds ',
                     '2398 months (lo=', cast(min(o_orderdate) as string),
                     ', hi=', cast(max(o_orderdate) as string),
                     '); an outlier date would explode the month spine - ',
                     'filter the corrupt rows first'))
                   ELSE date_trunc('month', min(o_orderdate))
                 END,
                 date_trunc('month', max(o_orderdate))
          FROM __rec_orders
          UNION ALL
          SELECT m + INTERVAL '1' MONTH, hi FROM months WHERE m < hi
        ), per_month AS (
          SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n,
                 round(sum(o_totalprice), 2) AS total
          FROM __rec_orders GROUP BY 1
        )
        SELECT date_format(months.m, 'yyyy-MM') AS month,
               coalesce(per_month.n, 0) AS n_orders,
               coalesce(per_month.total, 0.0) AS total_price
        FROM months LEFT JOIN per_month ON months.m = per_month.m
        ORDER BY month
        """
    )


@_register(
    "order_value_extremes_window",
    """
SELECT o_orderpriority, top_key, third_key, bottom_key, n FROM (
  SELECT o_orderpriority,
         first_value(o_orderkey) OVER w AS top_key,
         nth_value(o_orderkey, 3) OVER w AS third_key,
         last_value(o_orderkey) OVER w AS bottom_key,
         count(*) OVER w AS n,
         row_number() OVER w AS rn
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
WHERE rn = 1
ORDER BY o_orderpriority
""",
)
def order_value_extremes_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation window functions over an explicit full frame:
    first_value / nth_value / last_value identify the highest, 3rd, and
    lowest-value order per priority in one windowed pass (tie-broken on
    the key for a total order). last_value is only meaningful with the
    UNBOUNDED FOLLOWING frame — the default frame stops at CURRENT ROW,
    the classic silent-wrong-answer; pinning it explicitly is the point
    of this entry."""
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            F.first("o_orderkey").over(w).alias("top_key"),
            F.nth_value("o_orderkey", 3).over(w).alias("third_key"),
            F.last("o_orderkey").over(w).alias("bottom_key"),
            F.count(F.lit(1)).over(w).alias("n"),
            F.row_number()
            .over(
                Window.partitionBy("o_orderpriority").orderBy(
                    F.col("o_totalprice").desc(), F.col("o_orderkey")
                )
            )
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("o_orderpriority")
    )


@_register(
    "zipwith_consecutive_dot",
    f"""
WITH wf AS (SELECT * FROM embeddings
            WHERE {similarity.well_formed_sql('embedding', 64)})
SELECT a.label,
       count(*) AS n_pairs,
       -- + 0.0: DuckDB round keeps the sign of a near-zero-negative
       -- aggregate (-0.00004 -> -0.0) where Spark's round returns +0.0;
       -- dots are sign-indefinite, so normalize (round-9 negative-zero
       -- probe)
       round(avg(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])), 4)
         + 0.0 AS avg_dot,
       round(min(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])), 4)
         + 0.0 AS min_dot,
       round(max(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])), 4)
         + 0.0 AS max_dot
FROM wf a JOIN wf b
  ON b.vec_id = CASE WHEN a.vec_id = 9223372036854775807
                     THEN NULL ELSE a.vec_id + 1 END
GROUP BY a.label
ORDER BY a.label
""",
)
def zipwith_consecutive_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions on vector pairs: ``zip_with`` multiplies
    two embedding columns element-wise and ``aggregate`` sums in DOUBLE —
    the expression-only dot product (no UDF, no explode) between each
    vector and its successor, summarized per label. Fine for per-row pair
    arithmetic; bulk pairwise scoring goes through the tiled GEMM path
    (dedup_embedding_cosine) because higher-order fns are interpreted,
    not codegen'd — that boundary is the point of this entry.

    The successor key is try_subtract, not ``-``: with hash-derived ids
    spanning all of int64 (the realistic id scheme at corpus scale), a
    single min-int64 row overflowed the ANSI subtraction and KILLED the
    whole query — and the oracle's ``a.vec_id + 1`` died symmetrically at
    max-int64 (round-9 id-domain probe). The domain-edge row simply has
    no predecessor/successor, like any id whose neighbor is absent.

    Dots are taken over the WELL-FORMED corpus (round-9 huge-magnitude
    probe): a finite 3e38 float32 component yields per-pair dots near
    1e77 whose last-ulp value differs between Spark's fold and DuckDB's
    list_dot_product (and whose per-label averages are summation-order-
    sensitive) — shedding corrupt vectors restores the determinism
    round(,4) hashing needs; identity on any real corpus."""
    emb = similarity.well_formed_vectors(
        _t(spark, sf_dir, "embeddings"), "embedding", 64
    )
    a = emb.select(
        "vec_id", "label", F.col("embedding").alias("ea")
    )
    b = emb.select(
        F.try_subtract(F.col("vec_id"), F.lit(1)).alias("vec_id"),
        F.col("embedding").alias("eb"),
    )
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, "vec_id")
        .select("label", dot.alias("dot"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("dot"), 4).alias("avg_dot"),
            F.round(F.min("dot"), 4).alias("min_dot"),
            F.round(F.max("dot"), 4).alias("max_dot"),
        )
        .orderBy(F.col("label").asc_nulls_last())
    )


@_register(
    "argmax_supplier_per_nation",
    """
SELECT n_name,
       arg_max(s_name, printf('%012.2f|%s', s_acctbal + 10000, s_name))
         AS best_supplier,
       round(max(s_acctbal), 2) AS best_bal,
       count(*) AS n_suppliers
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
""",
)
def argmax_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax aggregates: ``max_by`` picks each nation's richest supplier
    in ONE map-side-combinable aggregation — no window, no self-join
    (contrast cheapest_supplier_per_part, which shows the window form).
    Ties are broken deterministically by maximizing over a fixed-width
    composed key (offset-padded balance | name) so both engines agree on
    any cluster; bare max_by on a tied ordinal is nondeterministic under
    parallel merge — same trap as unsorted collect_list."""
    supp = _t(spark, sf_dir, "supplier").select(
        "s_nationkey", "s_name", "s_acctbal"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    key = F.format_string(
        "%012.2f|%s", F.col("s_acctbal") + 10000, F.col("s_name")
    )
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.max_by("s_name", key).alias("best_supplier"),
            F.round(F.max("s_acctbal"), 2).alias("best_bal"),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
        .orderBy("n_name")
    )


@_register(
    "federated_three_formats",
    """
SELECT c_mktsegment, count(*) AS n_lines,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def federated_three_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federation across source formats in one plan: the customer dim is
    re-materialized as JSON-lines, orders as headered CSV, lineitem stays
    parquet — then a single three-way join aggregates across all three.
    Catalyst treats every source uniformly (pushdown/pruning per format
    capability), so heterogeneous lakes don't force a conversion pass;
    the join strategy (broadcast dims, fact stationary) is format-blind."""
    tmp = work_dir(spark, "federated_three_formats")

    # parallel write inputs — see csv_roundtrip — and the two independent
    # sink writes run concurrently so the second job back-fills the
    # first's task tail (guide §2.6; interleaved A/B 1.59 -> 1.31 s,
    # identical results)
    def _write_customer():
        ensure_parallelism(
            _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        ).write.mode("overwrite").json(f"{tmp}/customer")

    def _write_orders():
        ensure_parallelism(
            _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        ).write.mode("overwrite").option("header", "true").csv(f"{tmp}/orders")

    run_concurrently(_write_customer, _write_orders)
    # explicit schema: schema inference is a FULL extra
    # pass over the JSON files before the query's own scan — at bench
    # scale a wash (A/B 1.41 vs 1.39 s), at 100 TB a whole corpus read.
    # The fields are this entry's own write, so the schema is known;
    # integers infer as bigint, so the frame is type-identical (A/B
    # asserted row-identical output).
    cust = spark.read.schema("c_custkey bigint, c_mktsegment string").json(
        f"{tmp}/customer"
    )
    orders = spark.read.option("header", "true").csv(f"{tmp}/orders").select(
        F.col("o_orderkey").cast("long"), F.col("o_custkey").cast("long")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


# Driver-facing ordering. The driver verifies ~50 registry entries per round
# in queries() iteration order, so ordering is load-bearing: put the entries
# that most need a fresh correctness row first.
#
# The ordering has three tiers:
#   1. _PRIORITY — the one hand-maintained list: entries whose
#      implementation the current round touched (their latest green row
#      pre-dates the code change) or that are brand new; these jump the
#      queue. Contents change each round; tests assert the invariant,
#      never the contents.
#   2. Entries with NO green driver row in any committed
#      CORRECTNESS_r*.json — they need a first verification.
#   3. Everything else, STALEST GREEN ROW FIRST (computed from the
#      correctness history the driver commits at the repo root), so the
#      driver's per-round sample prefix automatically rotates through
#      old greens and no entry's row ages indefinitely. This replaces
#      the earlier hand-curated _DRIVER_GREEN back-list, which required
#      manual rotation every round.
_PRIORITY = [
    # these entries run the shared numpy vector kernels or the top-freq
    # oracle, both rewritten since their latest green CORRECTNESS row
    "dedup_embedding_cosine",
    "dedup_embedding_cosine_lsh",
    "dedup_embedding_cosine_lsh_loose",
    "dedup_embedding_cosine_lsh_sized",
    "semantic_dedup",
    "ann_ivf_topk",
    "ann_ivf_quantized_topk",
    "ann_ivf_kmeans_topk",
    "quality_filter_funnel",
]


@_functools.lru_cache(maxsize=1)
def _latest_green_rounds() -> "dict[str, int]":
    """Latest driver round with a green CORRECTNESS row, per entry.

    Parsed from the ``CORRECTNESS_r*.json`` files the driver commits at
    the repo root. A row counts as green when rows and schema matched,
    the value hash did not MIS-match (rows-only checks for the oracle-
    exempt entries record ``hash_match: null``), and no error was
    recorded. Missing or unreadable files are skipped, so a fresh
    checkout degrades to "verify everything" rather than failing.
    """
    latest: dict[str, int] = {}
    root = _pathlib.Path(__file__).resolve().parents[1]
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)", path.name)
        if m is None:
            continue
        rnd = int(m.group(1))
        try:
            rows = _json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = (
                bool(row.get("rows_match"))
                and bool(row.get("schema_match"))
                and row.get("hash_match") is not False
                and not row.get("err")
            )
            if green and rnd > latest.get(name, -1):
                latest[name] = rnd
    return latest


def _driver_order() -> list[str]:
    front = [n for n in _PRIORITY if n in REGISTRY]
    taken = set(front)
    green = _latest_green_rounds()
    never = [n for n in REGISTRY if n not in taken and n not in green]
    pos = {n: i for i, n in enumerate(REGISTRY)}
    # stalest green row first; registry order is the deterministic tiebreak
    tail = sorted(
        (n for n in REGISTRY if n not in taken and n in green),
        key=lambda n: (green[n], pos[n]),
    )
    return front + never + tail


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].spark for name in _driver_order()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _driver_order()
        if REGISTRY[name].oracle is not None
    }
