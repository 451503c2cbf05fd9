"""Round-8 calendar-adversary suite: NULL, pre-Gregorian (1582-10-05,
inside the 10 days the hybrid calendar never had), year-0001, and
year-9999 order dates injected into orders, with the date-consuming
entries re-verified against their oracles.

What the probe originally found:

- a window ORDER BY over a NULL date has no engine-stable position
  (Spark NULLS FIRST ascending, DuckDB NULLS LAST), so
  `customer_running_totals` diverged on any NULL-dated order in scope
  -> NULL dates are now excluded at the scan, mirrored in the oracle;
- `recursive_month_spine` sat 20 months under Spark's default
  recursion ceiling (spark.sql.cteRecursionLevelLimit = 100 levels vs
  the fixture's 80 months) — one more year of LEGIT history would have
  failed it opaquely, and one corrupt year-0001/9999 date (~120k-month
  spine) hit the ceiling immediately. The CTE now declares MAX
  RECURSION LEVEL 2400 and refuses loudly past a 2398-month span,
  naming the poisoned bounds;
- the date-range-filtered TPC-H family (q3/q4/q5/q8/q9/q10/q22,
  seasonality, cohort) is naturally poison-stable: NULL fails range
  predicates identically in both engines, extreme dates either fall
  outside the filters or group consistently (both engines are proleptic
  Gregorian) — verified, no change.
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from polario_spark.sources.tables import TABLES

CLEAN_SF = "/root/testdata/sf0.001"

AFFECTED = [
    "customer_running_totals",
    "orders_seasonality",
    "orders_retention_cohort",
    "q4_order_priority",
]


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("adv_date")
    for t in TABLES:
        if t != "orders":
            os.symlink(f"{CLEAN_SF}/{t}.parquet", d / f"{t}.parquet")
    # NULL dates land INSIDE customer_running_totals' custkey%100 scope,
    # extreme dates spread across the rest
    duckdb.connect().execute(f"""
COPY (
  SELECT * REPLACE (
    CASE
      WHEN o_custkey % 100 = 0 AND o_orderkey % 7 = 0 THEN NULL
      WHEN o_orderkey % 97 = 0 THEN TIMESTAMP '1582-10-05 00:00:00'
      ELSE o_orderdate END AS o_orderdate)
  FROM read_parquet('{CLEAN_SF}/orders.parquet')
) TO '{d}/orders.parquet' (FORMAT PARQUET)
""")
    return str(d)


@pytest.mark.parametrize("name", AFFECTED)
def test_date_entries_survive_calendar_poison(entry_mismatch, adv_dir, name):
    assert entry_mismatch(adv_dir, name) is None


def test_month_spine_refuses_poisoned_span(spark, tmp_path):
    """One year-9999 date must refuse with the bounds named — not crawl
    toward RECURSION_LEVEL_LIMIT_EXCEEDED."""
    for t in TABLES:
        if t != "orders":
            os.symlink(f"{CLEAN_SF}/{t}.parquet", tmp_path / f"{t}.parquet")
    duckdb.connect().execute(f"""
COPY (
  SELECT * REPLACE (
    CASE WHEN o_orderkey % 977 = 0 THEN TIMESTAMP '9999-12-31 00:00:00'
         ELSE o_orderdate END AS o_orderdate)
  FROM read_parquet('{CLEAN_SF}/orders.parquet')
) TO '{tmp_path}/orders.parquet' (FORMAT PARQUET)
""")
    with pytest.raises(Exception, match="observed o_orderdate span exceeds"):
        entry_mod.queries()["recursive_month_spine"](
            spark, str(tmp_path)
        ).collect()


def test_month_spine_survives_a_legit_century(spark, tmp_path):
    """The round-8 headroom fix must hold far past the default 100-level
    recursion ceiling: a legitimate ~101-year order history (1212
    months) produces a full spine, where the pre-fix entry died at the
    fixture's 80 months + 20."""
    for t in TABLES:
        if t != "orders":
            os.symlink(f"{CLEAN_SF}/{t}.parquet", tmp_path / f"{t}.parquet")
    duckdb.connect().execute(f"""
COPY (
  SELECT * REPLACE (
    CASE WHEN o_orderkey % 1000 = 0 THEN TIMESTAMP '1900-06-01 00:00:00'
         ELSE o_orderdate END AS o_orderdate)
  FROM read_parquet('{CLEAN_SF}/orders.parquet')
) TO '{tmp_path}/orders.parquet' (FORMAT PARQUET)
""")
    out = entry_mod.queries()["recursive_month_spine"](spark, str(tmp_path))
    n = out.count()
    assert n > 1200, n  # 1900-06 .. 2001-08 inclusive
