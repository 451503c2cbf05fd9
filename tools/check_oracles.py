"""Local mirror of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB, compare row count, column names,
Arrow-level column TYPES, and order-insensitive values.

The round-1 driver hash check is type-sensitive: DuckDB typing a bare
integer sum() as HUGEINT (Arrow decimal128(38,0)) while Spark returns
int64 fails the hash even when every value compares equal. The previous
version of this gate stringified values (str(Decimal(5)) == str(5)) and
was blind to exactly that class. Now both result sets go through Arrow
and column types must match up to a small allowlist of equivalences the
driver demonstrably accepts (timestamp tz annotation, string vs
large_string), which value-hash identically.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
from typing import Optional

import duckdb
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod  # noqa: E402
from polario_spark import get_spark  # noqa: E402
from polario_spark.queries import _GATE_SF_DIR  # noqa: E402
from polario_spark.sources.tables import TABLES  # noqa: E402
from polario_spark.workdir import rebind_stable_paths  # noqa: E402


def _canon_type(t: pa.DataType) -> str:
    """Canonical type name; collapses ONLY equivalences that hash the same.

    Spark exports timestamps as timestamp[us, tz=UTC] (session tz) where
    DuckDB yields timestamp[us]; both render the same wall-clock value once
    collected, and round-1 driver runs accepted them (events_hourly et al.
    passed hash). Integer WIDTHS are likewise driver-equivalent — round 1
    green rows include int8-vs-int64 (cube_sales grouping flags) and
    int32-vs-int64 (order_rank_window rn, ann_topk rank): Python ints hash
    identically whatever the Arrow width. What the driver does NOT accept
    is a kind change — decimal vs int (HUGEINT sums, the round-1 failure
    class), decimal vs float, int vs float — so those stay strict.
    """
    if pa.types.is_timestamp(t):
        return f"timestamp[{t.unit}]"
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return f"list<{_canon_type(t.value_type)}>"
    if pa.types.is_integer(t):
        return "int"
    return str(t)


def _type_map(tbl: pa.Table) -> dict[str, str]:
    return {f.name: _canon_type(f.type) for f in tbl.schema}


def normalize(rows, columns):
    """Sort columns by name, stringify values the way a hasher would."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm_val(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            # IEEE -0.0 is deliberately NOT collapsed: the driver's hash
            # may be sign-strict, so queries must normalize (+ 0.0) on
            # both sides rather than rely on comparator leniency
            return f"{v:.6f}"
        return str(v)

    return sorted(tuple(norm_val(r[i]) for i in order) for r in rows)


def mismatch(schema: StructType, rows, oracle: pa.Table) -> Optional[str]:
    """Why a Spark result differs from its DuckDB oracle, or None when it
    matches: column names, Arrow column types (the Spark side's are
    ``toArrow()``'s, taken from ``schema`` without running the plan), row
    count, then order-insensitive values. ``rows`` are the Spark frame's
    collected rows; ``oracle`` is the oracle query's Arrow table."""
    scols = schema.fieldNames()
    dcols = list(oracle.schema.names)
    if sorted(scols) != sorted(dcols):
        return f"columns spark={sorted(scols)} duck={sorted(dcols)}"
    stypes = _type_map(to_arrow_schema(schema).empty_table())
    dtypes = _type_map(oracle)
    mistyped = {
        c: (stypes[c], dtypes[c]) for c in stypes if stypes[c] != dtypes[c]
    }
    if mistyped:
        return f"column types differ (spark, duck): {mistyped}"
    sn = normalize([tuple(r) for r in rows], scols)
    dn = normalize(
        [tuple(d[c] for c in dcols) for d in oracle.to_pylist()], dcols
    )
    if len(sn) != len(dn):
        return f"rowcount spark={len(sn)} duck={len(dn)}"
    if sn != dn:
        diff = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
        return f"values differ, first diffs: {diff}"
    return None


def oracle_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with every corpus table as a view over
    ``sf_dir``'s parquet files: the oracles' FROM clauses name the bare
    tables."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _run_entry(spark, con, sf_dir: str, name: str):
    """Run entry ``name`` on ``sf_dir`` and its oracle on ``con``:
    (problem, Spark schema, Spark rows, oracle Arrow table). ``problem``
    is a ``spark error:`` / ``oracle error:`` string or None; the table is
    None for a rows-only entry, which has no oracle."""
    try:
        sdf = entry_mod.queries()[name](spark, sf_dir)
        rows = sdf.collect()
    except Exception as exc:
        return f"spark error: {exc}", None, None, None
    sql = entry_mod.oracle_sql().get(name)
    if sql is None:
        return None, sdf.schema, rows, None
    try:
        # stable artifacts are corpus-keyed: rebind the gate-corpus path
        # literals baked into the oracle to where this sf_dir's run writes
        # (a no-op at the gate corpus and for path-free oracles)
        rel = con.sql(rebind_stable_paths(sql, _GATE_SF_DIR, sf_dir))
        oracle = rel.arrow()
    except Exception as exc:
        return f"oracle error: {str(exc)[:200]}", sdf.schema, rows, None
    return None, sdf.schema, rows, oracle


def check_entry(spark, con, sf_dir: str, name: str) -> Optional[str]:
    """Why entry ``name`` on corpus ``sf_dir`` differs from its DuckDB
    oracle run on ``con`` (an ``oracle_views(sf_dir)`` connection), or
    None when it matches; see ``mismatch``. A rows-only entry passes when
    its Spark side runs."""
    problem, schema, rows, oracle = _run_entry(spark, con, sf_dir, name)
    if problem is None and oracle is not None:
        problem = mismatch(schema, rows, oracle)
    return problem


def check_order(
    spark, con, sf_dir: str, name: str, keys: list[str]
) -> Optional[str]:
    """Why the sequence of entry ``name``'s final-sort ``keys`` tuples
    differs from its oracle's, or None. ``mismatch`` sorts rows before
    comparing, so it cannot see the engines put NULL keys at opposite
    ends; only the key columns are compared, because row order within a
    tie is free in both engines."""
    problem, _, rows, oracle = _run_entry(spark, con, sf_dir, name)
    if problem is not None:
        return problem
    skeys = [tuple(str(r[c]) for c in keys) for r in rows]
    dkeys = [tuple(str(d[c]) for c in keys) for d in oracle.to_pylist()]
    if skeys == dkeys:
        return None
    at = next(
        (i for i, (a, b) in enumerate(zip(skeys, dkeys)) if a != b),
        min(len(skeys), len(dkeys)),
    )
    return (
        f"{keys} order differs from row {at} (spark={len(skeys)} rows, "
        f"duck={len(dkeys)}): {skeys[at:at + 3]} vs {dkeys[at:at + 3]}"
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("check_oracles")
    con = oracle_views(sf_dir)
    failures = []
    for name in entry_mod.queries():
        if only and name not in only:
            continue
        problem, schema, rows, oracle = _run_entry(spark, con, sf_dir, name)
        if problem is None and oracle is not None:
            problem = mismatch(schema, rows, oracle)
        if problem:
            failures.append(name)
            print(f"FAIL  {name}: {problem}")
        elif oracle is None:
            print(f"rows-only  {name}: {len(rows)} rows")
        else:
            print(f"OK    {name}: {len(rows)} rows")
    spark.stop()
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
