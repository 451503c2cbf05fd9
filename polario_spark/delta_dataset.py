"""Delta Lake dataset backend + a plain-parquet table backend.

``DeltaDataset`` mirrors /root/reference/polario/delta_dataset.py:11-62:
full-table transactional overwrite / append, partition-filtered reads, and
``scan() -> None`` when the table does not exist. It requires the
``delta-spark`` package + jars on the classpath; when absent, constructing
one raises ImportError with instructions (probed round 2, 2026-08-13: the
container has neither the ``delta`` module nor any delta jar under
pyspark/jars, and package installation is out of scope, so this stays an
environmental gap — see SCALE.md "Delta backend"; tests gate on
availability and run the full contract over ``ParquetTableDataset``).

``ParquetTableDataset`` implements the same *interface contract* on plain
parquet (non-transactional), so the reference's backend-parametrized
conformance suite (/root/reference/tests/test_dataset.py:42-48) runs over
two backends here as well.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from polario_spark.hive_dataset import (
    DatasetUrl,
    check_partition_columns,
    check_partition_keys,
    guard_partition_values,
    materialize_if_self_read,
)

try:  # delta-spark is optional; the container may not ship the jars
    from delta.tables import DeltaTable  # noqa: F401

    HAS_DELTA = True
except ImportError:
    HAS_DELTA = False


class _TableDatasetBase:
    """Shared validation + read logic for whole-table datasets.

    Validation parity: partition columns must be strings and at least one
    data column must exist (/root/reference/polario/delta_dataset.py:26-34).
    """

    format: str = "parquet"

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        partition_columns: Optional[list[str]] = None,
    ) -> None:
        self.spark = spark
        self.url = DatasetUrl(url)
        self.partition_columns = list(partition_columns or [])

    def _writer(self, df: DataFrame, mode: str):
        # same silent NULL/'' -> __HIVE_DEFAULT_PARTITION__ rewrite as the
        # hive layer; refuse loudly inside the write job instead
        df = guard_partition_values(df, self.partition_columns)
        writer = df.write.format(self.format).mode(mode)
        if self.partition_columns:
            writer = writer.partitionBy(*self.partition_columns)
        return writer

    def write(self, df: DataFrame) -> None:
        """FULL-table overwrite (/root/reference/polario/delta_dataset.py:23-39)
        — unlike HiveDataset.write, untouched partitions are dropped too, so
        force static overwrite regardless of the session's dynamic default."""
        check_partition_columns(df, self.partition_columns)
        if self.format == "parquet":
            # delta overwrites are transactional (new files + log commit,
            # old snapshot stays readable); plain parquet is not — guard
            # the self-overwrite case like HiveDataset.write does
            df = materialize_if_self_read(df, self.url)
        self._writer(df, "overwrite").option(
            "partitionOverwriteMode", "static"
        ).option("overwriteSchema", "true").save(self.url.spark_url)

    def append(self, df: DataFrame) -> None:
        """Append (/root/reference/polario/delta_dataset.py:20-21)."""
        check_partition_columns(df, self.partition_columns)
        self._writer(df, "append").save(self.url.spark_url)

    def scan(self) -> Optional[DataFrame]:
        """Whole-table frame, or ``None`` when the table doesn't exist
        (/root/reference/polario/delta_dataset.py:56-62)."""
        try:
            return self.spark.read.format(self.format).load(self.url.spark_url)
        except AnalysisException:
            return None

    read = scan

    def read_partition(self, partition_values: dict[str, str]) -> Optional[DataFrame]:
        """Partition-filtered read; pruning is pushed to the source
        (/root/reference/polario/delta_dataset.py:41-54)."""
        check_partition_keys(partition_values, self.partition_columns)
        df = self.scan()
        if df is None:
            return None
        for key, value in partition_values.items():
            df = df.filter(F.col(key) == value)
        return df


class ParquetTableDataset(_TableDatasetBase):
    """Whole-table dataset on plain parquet (non-transactional backend)."""

    format = "parquet"

    def scan(self) -> Optional[DataFrame]:
        # Spark's parquet reader raises on an empty directory too; check
        # the filesystem so `scan` of a never-written table is None.
        if not self.url.list_parquet_files(self.url.fs_path):
            return None
        return super().scan()


class DeltaDataset(_TableDatasetBase):
    """Delta Lake table dataset (/root/reference/polario/delta_dataset.py)."""

    format = "delta"

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        partition_columns: Optional[list[str]] = None,
    ) -> None:
        if not HAS_DELTA:
            raise ImportError(
                "delta-spark is not installed; install delta-spark and add "
                "io.delta:delta-spark jars to spark.jars.packages, or use "
                "ParquetTableDataset / HiveDataset."
            )
        super().__init__(spark, url, partition_columns)
