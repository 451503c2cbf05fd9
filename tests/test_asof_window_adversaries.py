"""Round-9 as-of / window-frame adversary suite: NULL and extreme event
times through the entries whose WINDOW FRAMES are ordered by ts — a
surface the r8 temporal sweep did not cover (it probed the grouping and
sessionization entries; the frame-ordered ones slipped through).

What the probe found: a NULL ordering key sits at OPPOSITE ends of a
window partition in the two engines (Spark windows order NULLS FIRST,
DuckDB NULLS LAST), so

- ``asof_click_before_purchase``: a NULL-ts purchase saw NO previous
  click in Spark (sorted before everything) but the LAST click overall
  in DuckDB — different prev_click_us/gap_us values, same row count, a
  silent hash divergence. As-of of an unknown time is undefined: the
  entry now excludes NULL event times at the scan, mirrored in the
  oracle (the same policy the sessionization entries adopted in r8).
- ``events_rolling_hour_rate``: the RANGE frame over a NULL key is
  engine-defined (all-NULL-peers vs position-based) AND the NULL rows
  sort at opposite ends — same exclusion policy applied.
- ``sliding_window_counts``: NULL ts propagates through the modulo
  arithmetic identically in both engines (each NULL-ts event contributes
  two rows to a NULL window group — values agree), but the final sort
  put the NULL group first in Spark and last in DuckDB; the entry now
  sorts asc_nulls_last.

Extreme-but-valid times (pre-epoch 1930, year 9999) flow through all
three as plain int64 microseconds — pinned here so the µs arithmetic
cannot regress into timestamp-typed operations that would crash or
clamp them.
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from polario_spark.sources.tables import TABLES

CLEAN_SF = "/root/testdata/sf0.001"

AFFECTED = [
    "asof_click_before_purchase",
    "events_rolling_hour_rate",
    "sliding_window_counts",
]

#: final-sort key columns, for the order-sensitive cross-engine check
ORDERED = {
    "asof_click_before_purchase": ["user_id", "purchase_id"],
    "events_rolling_hour_rate": ["user_id", "event_id"],
    "sliding_window_counts": ["window_start_us", "event_type"],
}

#: poison rows: NULL-ts clicks and purchases for users that HAVE real
#: events (the as-of divergence needs a NULL-ts purchase whose user also
#: has on-time clicks), NULL ts on a user_id%100==0 user (the rolling
#: rate's filter), and pre-epoch / year-9999 extremes.
_INJECT = """
COPY (
  SELECT * FROM read_parquet('{clean}/events.parquet')
  UNION ALL
  SELECT * FROM (VALUES
    (9200001, NULL,                                   3, 'purchase', 1.0, NULL),
    (9200002, NULL,                                   3, 'click',    1.5, NULL),
    (9200003, TIMESTAMP '2024-01-05 10:00:00',        3, 'click',    2.0, NULL),
    (9200004, TIMESTAMP '2024-01-05 10:20:00',        3, 'purchase', 2.5, NULL),
    (9200005, NULL,                                   100, 'view',   3.0, NULL),
    (9200006, TIMESTAMP '1930-06-15 12:00:00',        100, 'view',   3.5, NULL),
    (9200007, TIMESTAMP '1930-06-15 12:30:00',        100, 'view',   4.0, NULL),
    (9200008, TIMESTAMP '9999-12-31 22:30:00',        200, 'click',  4.5, NULL),
    (9200009, TIMESTAMP '9999-12-31 23:00:00',        200, 'purchase', 5.0, NULL)
  ) v(event_id, ts, user_id, event_type, value, props)
) TO '{out}' (FORMAT PARQUET)
"""


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("adv_asof")
    for t in TABLES:
        if t != "events":
            os.symlink(f"{CLEAN_SF}/{t}.parquet", d / f"{t}.parquet")
    duckdb.connect().execute(
        _INJECT.format(clean=CLEAN_SF, out=d / "events.parquet")
    )
    return str(d)


@pytest.mark.parametrize("name", AFFECTED)
def test_window_entries_survive_temporal_poison(entry_mismatch, adv_dir, name):
    assert entry_mismatch(adv_dir, name) is None


@pytest.mark.parametrize("name", AFFECTED)
def test_window_entry_row_order_matches_across_engines(
    entry_order_mismatch, adv_dir, name
):
    """The sequence of final-sort keys must be identical — the sorted
    value check above cannot see NULLS-FIRST/LAST divergence."""
    assert entry_order_mismatch(adv_dir, name, ORDERED[name]) is None


def test_asof_excludes_null_ts_and_keeps_extreme_ts(spark, adv_dir):
    """Structural assertions that the poison actually engaged the fixed
    paths: the NULL-ts purchase (user 3, id 9200001) is excluded; the
    on-time purchase (9200004) resolves to the on-time click; the
    year-9999 purchase (9200009) resolves to the year-9999 click with a
    30-minute gap — extreme times flow as int64 microseconds."""
    rows = {
        r.purchase_id: r
        for r in entry_mod.queries()["asof_click_before_purchase"](
            spark, adv_dir
        ).collect()
    }
    assert 9200001 not in rows
    assert rows[9200004].gap_us == 20 * 60 * 1_000_000
    assert rows[9200009].gap_us == 30 * 60 * 1_000_000


def test_rolling_rate_excludes_null_ts_but_counts_pre_epoch(spark, adv_dir):
    """The user-100 NULL-ts row is excluded; the two pre-epoch 1930 rows
    (30 minutes apart) land in one trailing-hour frame: the second must
    count both — negative microsecond values behave like any other
    int64 in the RANGE frame."""
    out = {
        r.event_id: r.events_last_hour
        for r in entry_mod.queries()["events_rolling_hour_rate"](
            spark, adv_dir
        ).collect()
    }
    assert 9200005 not in out
    assert out[9200006] == 1
    assert out[9200007] == 2
