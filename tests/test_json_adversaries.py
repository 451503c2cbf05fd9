"""Round-9 JSON/map adversary suite (verdict item 4): adversarial
payloads in the ``props`` column of events, with the three
semi-structured entries re-verified against their oracles.

The corruption families injected (each one a way Spark and DuckDB JSON
machinery can LEGITIMATELY diverge — the U+0130 lesson, for JSON):

- duplicate keys within one object (``{"k":1,"k":2}``): DuckDB's
  ``json_keys`` returns BOTH (the r8 oracle double-counted), its
  ``json_extract`` picks the first, Spark's map types collapse to one
  entry;
- conflicting value types across rows (string / float / bool / array /
  object / 23-digit integer under the same key): DuckDB's ``::BIGINT``
  on a JSON value RAISES on strings/arrays/objects and ROUNDS floats
  (1.9 -> 2) while Spark's lenient casts return NULL;
- malformed JSON: every DuckDB JSON function raises, Spark's
  get_json_object / from_json / try_parse_json return NULL;
- non-object documents (arrays, scalars), deeply nested objects, a
  multi-MB single-prop string, keys containing '.' (JSONPath injection
  through ``'$.' || key``), NULL props.

The fix pattern (see the entries' docstrings): extract as STRING in
both engines, admit exactly the strings matching ^-?\\d{1,18}$ to the
integer domain, guard the oracle with json_valid, and exclude
duplicate-key objects on both sides via the same key-count comparison.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from polario_spark.sources.tables import TABLES

CLEAN_SF = "/root/testdata/sf0.001"

AFFECTED = [
    "events_json_stats",
    "events_props_map",
    "events_variant_extract",
]

#: one poisoned payload per corruption family, keyed by event_id % 101
POISON = {
    3: '{"k": 1, "k": 2}',                      # duplicate keys
    5: '{"k": "abc"}',                           # string-typed k
    7: '{"k": "12"}',                            # numeric string k
    11: '{"k": 1.9}',                            # float k (DuckDB rounds)
    13: '{"k": true}',                           # bool k
    17: '{"k": [1, 2]}',                         # array k
    19: '{"k": {"a": 1}}',                       # object k
    23: '{"k": 99999999999999999999999}',        # 23-digit integer k
    29: '{k: 1',                                 # malformed
    31: '[1, 2, 3]',                             # non-object
    37: '42',                                    # scalar document
    41: '{"a":' * 80 + '1' + '}' * 80,           # deeply nested
    43: '{"k.x": 5, "k": 6}',                    # dotted key (path injection)
    47: None,                                    # NULL props
    53: '{"k": -0}',                             # negative zero
    59: '{"big": "' + "x" * 2_000_000 + '"}',    # ~2 MB single prop
}


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("adv_json")
    for t in TABLES:
        if t != "events":
            os.symlink(f"{CLEAN_SF}/{t}.parquet", d / f"{t}.parquet")
    con = duckdb.connect()
    cases = " ".join(
        f"WHEN event_id % 101 = {k} THEN "
        + ("NULL" if v is None else "'" + v.replace("'", "''") + "'")
        for k, v in POISON.items()
    )
    con.execute(f"""
COPY (
  SELECT event_id, ts, user_id, event_type, value,
         CASE {cases} ELSE props END AS props
  FROM read_parquet('{CLEAN_SF}/events.parquet')
) TO '{d}/events.parquet' (FORMAT PARQUET)
""")
    return str(d)


@pytest.mark.parametrize("name", AFFECTED)
def test_json_entries_survive_adversarial_payloads(
    entry_mismatch, adv_dir, name
):
    assert entry_mismatch(adv_dir, name) is None


@pytest.mark.parametrize("name", AFFECTED)
def test_json_entries_clean_corpus_unchanged(entry_mismatch, name):
    """The hardened constructions must not change results on CLEAN data —
    the oracle gate at sf0.01 pins this too, but pin it here so a failed
    poison run can't be confused with a clean-data regression."""
    assert entry_mismatch(CLEAN_SF, name) is None
