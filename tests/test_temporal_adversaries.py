"""Round-8 temporal-adversary suite: the event-time edge cases a real
event feed contains — NULL timestamps, pre-epoch (negative-epoch)
timestamps, timestamps beyond pandas datetime64[ns] range (year 9999),
exact window boundaries, duplicate timestamps — injected into a copy of
the events table, with every event-time entry re-verified against its
DuckDB oracle on the poisoned data.

Each case here reproduced a REAL divergence or crash when first probed:

- NULL ts split sessions differently per engine (Spark sorts NULLS
  FIRST ascending, DuckDB NULLS LAST) -> sessionization now excludes
  NULL event times on both sides;
- streaming event-time windows drop NULL-ts rows by construction while
  batch GROUP BY keeps the NULL group -> streaming oracles mirror the
  exclusion, batch events_hourly keeps it (both engines agree there);
- DuckDB's truncated % mis-floors negative epochs -> the sliding-window
  oracle uses the sign-safe double-mod floor;
- year-9999 overflows pandas datetime64[ns] at the Arrow boundary ->
  the stateful sessionizer converts to integer micros JVM-side;
- one outlier timestamp stretches events_gapfill's hourly spine to
  ~70M rows -> the spine now refuses loudly past
  MAX_GAPFILL_SPINE_HOURS.
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from polario_spark.sources.tables import TABLES

CLEAN_SF = "/root/testdata/sf0.001"

# entries whose semantics depend on event time, re-verified on poison
AFFECTED = [
    "events_sessions",
    "session_window_stats",
    "streaming_events_hourly",
    "streaming_sliding_counts",
    "streaming_stateful_sessions",
    "events_hourly",  # batch: NULL group KEPT, consistently, both engines
]

_INJECT = """
COPY (
  SELECT * FROM read_parquet('{clean}/events.parquet')
  UNION ALL
  SELECT * FROM (VALUES
    (9100001, TIMESTAMP '1969-12-31 23:59:59.999999', 7, 'click', 1.5, '{{"k":1}}'),
    (9100002, TIMESTAMP '1930-06-15 12:00:00',        8, 'view',  2.0, NULL),
    (9100003, TIMESTAMP '9999-12-31 23:59:59',        9, 'click', 3.0, '{{"k":2}}'),
    (9100004, TIMESTAMP '2024-01-10 10:00:00',        10, 'view', 4.0, NULL),
    (9100005, TIMESTAMP '2024-01-10 09:59:59.999999', 10, 'view', 4.5, NULL),
    (9100006, NULL,                                   11, 'click', 5.0, NULL),
    (9100007, TIMESTAMP '2024-01-15 08:30:00',        12, 'buy',  6.0, NULL),
    (9100008, TIMESTAMP '2024-01-15 08:30:00',        12, 'buy',  6.0, NULL)
  ) v(event_id, ts, user_id, event_type, value, props)
) TO '{out}' (FORMAT PARQUET)
"""


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("adv_ts")
    for t in TABLES:
        if t != "events":
            os.symlink(f"{CLEAN_SF}/{t}.parquet", d / f"{t}.parquet")
    duckdb.connect().execute(
        _INJECT.format(clean=CLEAN_SF, out=d / "events.parquet")
    )
    return str(d)


@pytest.mark.parametrize("name", AFFECTED)
def test_event_time_entries_survive_temporal_poison(
    entry_mismatch, adv_dir, name
):
    assert entry_mismatch(adv_dir, name) is None


def test_gapfill_refuses_poisoned_spine(spark, adv_dir):
    """One year-9999 row must produce a LOUD refusal naming the poisoned
    bounds — never a ~70M-row spine broadcast."""
    with pytest.raises(Exception, match="observed ts span exceeds"):
        entry_mod.queries()["events_gapfill"](spark, adv_dir).collect()


def test_gapfill_clean_span_unaffected(spark):
    """The guard must be invisible on sane data: the clean fixture's
    one-month span runs normally."""
    out = entry_mod.queries()["events_gapfill"](spark, CLEAN_SF)
    assert out.count() > 0
