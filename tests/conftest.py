from __future__ import annotations

import functools
import importlib.util
import pathlib

import pytest

from polario_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("polario_spark_tests", shuffle_partitions=4)
    yield spark


@functools.cache
def _check_oracles():
    path = pathlib.Path(__file__).parent.parent / "tools" / "check_oracles.py"
    spec = importlib.util.spec_from_file_location("check_oracles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="session")
def oracle_views():
    """``tools/check_oracles.py``'s ``oracle_views``, one DuckDB connection
    per corpus: ``oracle_views(sf_dir)`` has every table as a view over
    ``sf_dir``."""
    return functools.cache(_check_oracles().oracle_views)


@pytest.fixture(scope="session")
def entry_mismatch(spark, oracle_views):
    """The correctness gate's per-entry check: ``entry_mismatch(sf_dir,
    name)`` runs registry entry ``name`` on ``sf_dir`` and its DuckDB
    oracle, and returns why they differ (columns, Arrow types, row count,
    values, or the side that raised), or None."""
    check_entry = _check_oracles().check_entry
    return lambda sf_dir, name: check_entry(
        spark, oracle_views(sf_dir), sf_dir, name
    )


@pytest.fixture(scope="session")
def entry_order_mismatch(spark, oracle_views):
    """``entry_order_mismatch(sf_dir, name, keys)``: why the sequence of
    entry ``name``'s final-sort ``keys`` differs from its oracle's, or
    None (``check_oracles.check_order``)."""
    check_order = _check_oracles().check_order
    return lambda sf_dir, name, keys: check_order(
        spark, oracle_views(sf_dir), sf_dir, name, keys
    )


@pytest.fixture()
def example_df_1(spark):
    """The reference's canonical round-trip fixture
    (/root/reference/tests/test_hive_dataset.py:43-52): 4 rows, string
    partition cols p1/p2, int col v, one (p1,p2) pair duplicated."""
    return spark.createDataFrame(
        [("1", "a", 1), ("1", "b", 1), ("2", "a", 1), ("2", "a", 2)],
        schema="p1 string, p2 string, v long",
    )


def comparable_rows(df):
    """Order-insensitive row representation for round-trip equality
    (the reference's assert_equal/comparable_repr oracle,
    /root/reference/tests/test_hive_dataset.py:15-40)."""
    return sorted((tuple(row) for row in df.collect()), key=repr)
