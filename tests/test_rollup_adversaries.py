"""Round-9 grouping-set adversary suite: NULL group keys in the
RELATIONAL tables (lineitem / orders / customer), aimed at the
multi-grouping-set entries and the grouped-report shapes that sort on a
poisonable key.

What the probe found (and the fix it pins):

- ``rollup_sales`` / ``cube_sales`` / ``grouping_sets_priority`` built
  their subtotal labels with a bare ``coalesce(key, 'ALL')``. On a corpus
  where the key itself is NULL, the genuine-NULL group row and the
  subtotal placeholder row become IDENTICAL in every sort key ('ALL' /
  'ALL') while carrying different aggregates — the final ORDER BY is left
  with a tie that each engine breaks arbitrarily, so the driver's
  order-sensitive hash can diverge nondeterministically. TPC-H data has
  no NULL keys, which is exactly why eight rounds of green rows never saw
  it. The entries now derive the label from ``grouping()`` (subtotal ->
  'ALL', real NULL -> '(null)'), which both disambiguates the rows and
  makes every sort key non-null — tie-free and engine-agnostic.

- The grouped-report entries sorting on a nullable key column
  (``pivot_returnflag``, ``price_percentiles``, ``distinct_counts``,
  ``customers_without_urgent_orders``, ``bucketed_join``, the
  csv/upsert/compact roundtrips) used Spark's default ascending sort —
  NULLS FIRST, where the oracles' bare DuckDB ORDER BY is NULLS LAST:
  the r8-ADVICE divergence class, previously fixed on the document/event
  entries only. All now sort ``asc_nulls_last``.

Same recipe as tests/test_nullkey_adversaries.py: poison a copy of
sf0.001, run entry vs oracle on the SAME poisoned data, compare values
(sorted) AND the final-sort key sequence (order-sensitive).
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from polario_spark.sources.tables import TABLES

CLEAN_SF = "/root/testdata/sf0.001"

#: entries re-verified on the poisoned corpus, with their final-sort key
#: columns for the order-sensitive check.
ORDERED = {
    "rollup_sales": ["returnflag", "linestatus"],
    "cube_sales": ["returnflag", "linestatus", "g_flag", "g_status"],
    "grouping_sets_priority": ["status", "priority"],
    "pivot_returnflag": ["l_returnflag"],
    "price_percentiles": ["o_orderstatus"],
    "distinct_counts": ["l_returnflag"],
    "customers_without_urgent_orders": ["c_mktsegment"],
}


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("adv_rollup")
    for t in TABLES:
        if t not in ("lineitem", "orders", "customer"):
            os.symlink(f"{CLEAN_SF}/{t}.parquet", d / f"{t}.parquet")
    con = duckdb.connect()
    con.execute(f"""
COPY (
  SELECT * REPLACE (
    CASE WHEN l_orderkey % 101 = 3 THEN NULL ELSE l_returnflag END AS l_returnflag,
    CASE WHEN l_orderkey % 103 = 5 THEN NULL ELSE l_linestatus END AS l_linestatus
  )
  FROM read_parquet('{CLEAN_SF}/lineitem.parquet')
) TO '{d}/lineitem.parquet' (FORMAT PARQUET)
""")
    con.execute(f"""
COPY (
  SELECT * REPLACE (
    CASE WHEN o_orderkey % 101 = 3 THEN NULL ELSE o_orderstatus END AS o_orderstatus,
    CASE WHEN o_orderkey % 103 = 5 THEN NULL ELSE o_orderpriority END AS o_orderpriority
  )
  FROM read_parquet('{CLEAN_SF}/orders.parquet')
) TO '{d}/orders.parquet' (FORMAT PARQUET)
""")
    con.execute(f"""
COPY (
  SELECT * REPLACE (
    CASE WHEN c_custkey % 101 = 3 THEN NULL ELSE c_mktsegment END AS c_mktsegment
  )
  FROM read_parquet('{CLEAN_SF}/customer.parquet')
) TO '{d}/customer.parquet' (FORMAT PARQUET)
""")
    return str(d)


@pytest.mark.parametrize("name", sorted(ORDERED))
def test_grouping_entries_survive_null_group_keys(
    entry_mismatch, adv_dir, name
):
    assert entry_mismatch(adv_dir, name) is None


@pytest.mark.parametrize("name", sorted(ORDERED))
def test_null_group_keys_sort_identically_across_engines(
    entry_order_mismatch, adv_dir, name
):
    """The sequence of final-sort key tuples must match across engines —
    the sorted-value check above cannot see a row-order divergence."""
    assert entry_order_mismatch(adv_dir, name, ORDERED[name]) is None


def test_rollup_separates_real_null_group_from_subtotal(spark, adv_dir):
    """The poisoned corpus must actually engage the collision path: the
    rollup output contains BOTH a real-NULL-flag group (labeled '(null)')
    and the subtotal rows (labeled 'ALL'), as distinct rows with distinct
    sort keys. Under the pre-fix coalesce labeling these were identical
    ('ALL','ALL') sort-key ties."""
    rows = entry_mod.queries()["rollup_sales"](spark, adv_dir).collect()
    labels = {(r.returnflag, r.linestatus) for r in rows}
    assert ("(null)", "ALL") in labels      # real-NULL flag subtotal row
    assert ("ALL", "ALL") in labels         # grand-total placeholder
    # exactly one grand-total row: no silent merge of the NULL group into it
    assert sum(1 for r in rows if (r.returnflag, r.linestatus) == ("ALL", "ALL")) == 1


def test_grouping_sets_keep_null_and_placeholder_rows_distinct(spark, adv_dir):
    rows = entry_mod.queries()["grouping_sets_priority"](spark, adv_dir).collect()
    pairs = [(r.status, r.priority) for r in rows]
    assert ("(null)", "ALL") in pairs       # real-NULL status group
    assert ("ALL", "(null)") in pairs       # real-NULL priority group
    assert pairs.count(("ALL", "ALL")) == 1  # the () grand total only
    # tie-free: every (status, priority) pair unique => deterministic order
    assert len(pairs) == len(set(pairs))
