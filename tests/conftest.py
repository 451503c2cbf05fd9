from __future__ import annotations

import importlib.util
import pathlib

import pytest

from polario_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("polario_spark_tests", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def oracle_mismatch():
    """``tools/check_oracles.py``'s comparator: ``mismatch(schema, rows,
    oracle_arrow_table)`` returns why a Spark result differs from its
    DuckDB oracle (columns, Arrow types, row count, values), or None."""
    path = pathlib.Path(__file__).parent.parent / "tools" / "check_oracles.py"
    spec = importlib.util.spec_from_file_location("check_oracles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.mismatch


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
