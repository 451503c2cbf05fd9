"""Hive-partitioned Parquet dataset layer, Spark-first.

Reimplements the reference's ``HiveDataset`` semantics
(/root/reference/polario/hive_dataset.py:248-420) on top of stock Spark
readers/writers:

- dataset = lexically ordered set of partitions; partition = Hive
  ``key=value`` directory of parquet fragments; fragment = one parquet file
  (/root/reference/README.md:33-37).
- partition columns MUST be strings on write and always read back as strings
  (/root/reference/polario/hive_dataset.py:358-370).
- a frame must contain at least one non-partition column
  (/root/reference/polario/hive_dataset.py:360-365).
- ``write`` = dynamic partition overwrite: only partitions present in the
  input frame are replaced (/root/reference/polario/hive_dataset.py:412-415).
- fragments are bounded to ``max_rows_per_fragment`` rows
  (/root/reference/polario/hive_dataset.py:17,206-216) — here via Spark's
  ``maxRecordsPerFile`` writer option.
- reads present columns as: non-partition columns sorted alphabetically,
  then partition columns in partition-key order
  (/root/reference/polario/hive_dataset.py:186-191,209-211).
- mixed-fragment schemas within a partition merge to the superset schema
  with typed nulls (/root/reference/polario/hive_dataset.py:158-181) — here
  via Spark's ``mergeSchema`` parquet option.
- empty dataset / absent partition reads return ``None`` instead of raising
  (/root/reference/polario/hive_dataset.py:314-328,351-356).

Scale design: unlike the reference (serial single-process partition loop,
/root/reference/polario/hive_dataset.py:414-415), every write is ONE Spark
job — the partition split is a shuffle executed in parallel on executors,
and reads are partition-pruned scans. ``read_partitions()`` (a driver-side
loop for parity) is documented as the non-scalable path; at 100 TB use
``scan().filter(partition_col == ...)`` which Catalyst prunes statically.
"""

from __future__ import annotations

import os
import re
from collections import OrderedDict
from collections.abc import Iterable, Iterator
from typing import Optional
from urllib.parse import urlsplit

import pyarrow.fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polario_spark.session import DEFAULT_ROWS_PER_FRAGMENT

_PARTITION_SEGMENT_RE = re.compile(r"^(?P<key>[^=/]+)=(?P<value>[^/]*)$")

#: Characters Spark/Hive percent-escape in partition directory names
#: (Hive's escapePathName contract, which Spark's partitioned writer
#: applies); control chars and DEL join this set. Spaces and non-ASCII
#: are written literally. The dataset's OWN path builders must follow
#: the same rules, or a value like "a/b" writes to ``p=a%2Fb`` but
#: read_partition/delete_partition would probe the raw ``p=a/b`` path —
#: a silent miss. (The reference never escapes — but it also WRITES the
#: raw path, so its write/read stay consistent; here the writer is
#: Spark, so the readers must match Spark.)
_ESCAPED_PARTITION_CHARS = frozenset('"#%\'*/:=?\\{[]^\x7f')


def escape_partition_value(value: str) -> str:
    """Percent-escape a partition value exactly as Spark's partitioned
    parquet writer names the directory (verified against the observed
    on-disk layout: '/' -> %2F, '=' -> %3D, ..., space and unicode kept
    literal)."""
    return "".join(
        f"%{ord(ch):02X}"
        if ch in _ESCAPED_PARTITION_CHARS or ch < " "
        else ch
        for ch in value
    )


def unescape_partition_value(value: str) -> str:
    """Inverse of :func:`escape_partition_value`: decode exactly the %XX
    sequences Spark's writer produces — uppercase hex, and only for the
    characters :func:`escape_partition_value` escapes. Everything else
    ('%' not followed by two hex digits, lowercase hex, or an escape of
    a character Spark never escapes, e.g. ``%41``) passes through
    untouched.

    Interop rationale (round 8): the reference writes partition values
    RAW (its path builder never escapes,
    /root/reference/polario/hive_dataset.py:130-132), so a reference-
    written directory ``p=v%2f`` means the literal four characters
    ``v%2f``. A decoder that ate every %XX would silently mutate that to
    ``v/`` on discovery — and ``read_partition({'p': 'v%2f'})`` would
    then re-escape the '%' and probe ``p=v%252f``, missing the
    directory. Restricting decoding to the sequences our own writer can
    emit makes every Spark-written layout round-trip exactly while
    keeping reference-written values with literal '%' intact. The one
    residual ambiguity — a RAW value that itself looks like a Spark
    escape of an escapable character, e.g. the literal string ``v%2F``
    — is undecidable from the path alone; we side with our own writer
    (decode), which is the documented migration caveat."""

    def _sub(m: "re.Match[str]") -> str:
        ch = chr(int(m.group(1), 16))
        return ch if ch in _ESCAPED_PARTITION_CHARS or ch < " " else m.group(0)

    return re.sub(r"%([0-9A-F]{2})", _sub, value)


def guard_partition_values(df: DataFrame, partition_columns: list[str]) -> DataFrame:
    """Fail loudly on NULL / empty-string partition values.

    Spark's partitioned writer silently rewrites both to
    ``__HIVE_DEFAULT_PARTITION__``, which reads back as NULL — a silent
    data mutation (the reference round-trips ``''`` because its raw
    ``k=v`` path building IS its writer,
    /root/reference/polario/hive_dataset.py:132). There is no faithful
    Spark spelling for an empty partition value, so the write must
    refuse instead of corrupting. The check is a ``when``/``raise_error``
    projection embedded in the write job itself — it rides the existing
    scan (no separate validation pass over a 100 TB frame) and surfaces
    as a failed write with this message.
    """
    for c in partition_columns:
        df = df.withColumn(
            c,
            F.when(
                F.col(c).isNull() | (F.col(c) == ""),
                F.raise_error(
                    F.lit(
                        f"partition column {c!r} contains a NULL or empty "
                        "value; Spark's partitioned writer would silently "
                        "rewrite it to __HIVE_DEFAULT_PARTITION__ (reads "
                        "back as NULL). Filter or fill the column first."
                    )
                ),
            ).otherwise(F.col(c)),
        )
    return df


def to_relative_location_from(
    possible_prefix: str, base_location: str, location: str
) -> str:
    """Make ``location`` relative to ``base_location``, tolerating listings
    that drop the URL scheme or return absolute paths.

    Behavior parity with /root/reference/polario/hive_dataset.py:25-41
    (cases from its tests/test_hive_dataset.py:198-226): strip the scheme
    prefix from the location when present; when the base is a relative path
    that occurs inside an absolute listing result, anchor there; finally
    strip the scheme-less base (plus its trailing slash) from the front.
    """
    rel = location[len(possible_prefix):] if location.startswith(possible_prefix) else location
    if not base_location.startswith("/") and base_location in rel:
        rel = rel[rel.find(base_location):]
    rel = rel.lstrip("/")
    base_without_scheme = base_location[len(possible_prefix):].lstrip("/")
    if rel.startswith(base_without_scheme):
        rel = rel[len(base_without_scheme) + 1:]
    return rel


class DatasetUrl:
    """Resolve a dataset URL to (spark_url, pyarrow filesystem, fs path).

    Accepts absolute/relative local paths, ``file://`` and ``s3://`` URLs —
    the schemes the reference supports via fsspec
    (/root/reference/polario/hive_dataset.py:259-262). Unsupported schemes
    raise ValueError (tested there at tests/test_hive_dataset.py:65-67).
    """

    def __init__(self, url: str) -> None:
        self.raw = url
        parsed = urlsplit(url)
        if parsed.scheme in ("", "file"):
            local = parsed.path if parsed.scheme == "file" else url
            local = os.path.abspath(local)
            self.spark_url = "file://" + local
            self.fs: pafs.FileSystem = pafs.LocalFileSystem()
            self.fs_path = local
        elif parsed.scheme in ("s3", "s3a"):
            # Spark speaks s3a://; pyarrow speaks s3://
            self.spark_url = "s3a://" + parsed.netloc + parsed.path
            try:
                self.fs, self.fs_path = pafs.FileSystem.from_uri(
                    "s3://" + parsed.netloc + parsed.path
                )
            except Exception as exc:  # pragma: no cover - needs s3 creds
                raise ValueError(f"Could not resolve filesystem for {url!r}: {exc}")
        else:
            raise ValueError(f"Unsupported URL scheme: {parsed.scheme!r} in {url!r}")

    def join(self, *segments: str) -> str:
        return "/".join([self.fs_path.rstrip("/"), *segments])

    def spark_join(self, *segments: str) -> str:
        return "/".join([self.spark_url.rstrip("/"), *segments])

    def exists(self, path: str) -> bool:
        return self.fs.get_file_info(path).type != pafs.FileType.NotFound

    def delete_dir(self, path: str) -> None:
        if self.exists(path):
            self.fs.delete_dir(path)

    def list_parquet_files(self, path: str) -> list[str]:
        try:
            infos = self.fs.get_file_info(pafs.FileSelector(path, recursive=True))
        except FileNotFoundError:
            return []
        return sorted(
            i.path
            for i in infos
            if i.type == pafs.FileType.File and i.path.endswith(".parquet")
        )


def _norm_location(uri_or_path: str) -> str:
    """Scheme-insensitive canonical location for overlap tests.

    'file:/a/b', 'file:///a/b', 'file://localhost/a/b' and '/a/b' all
    normalize to '/a/b'; 's3://bucket/k' and 's3a://bucket/k' both
    normalize to 'bucket/k'. Local paths keep their leading '/', object
    stores lead with the bucket — the two namespaces can't collide.
    """
    parts = urlsplit(uri_or_path)
    if parts.scheme in ("", "file"):
        host = "" if parts.netloc in ("", "localhost") else parts.netloc
        return host + (parts.path or uri_or_path)
    return parts.netloc + parts.path


def check_partition_columns(df: DataFrame, partition_columns: list[str]) -> None:
    """Write-side frame validation shared by the dataset layers (the
    reference polario's hive_dataset.py:358-370): every partition column
    present and string-typed, plus at least one data column."""
    missing = set(partition_columns) - set(df.columns)
    if missing:
        raise ValueError(
            f"Partition columns {sorted(missing)} not found in frame columns "
            f"{df.columns}"
        )
    if len(df.columns) <= len(partition_columns):
        raise ValueError("DataFrame must contain at least one non-partition column")
    for field in df.schema.fields:
        if field.name in partition_columns and not isinstance(
            field.dataType, T.StringType
        ):
            raise ValueError(
                f"Partition column {field.name!r} must be a string, "
                f"got {field.dataType.simpleString()}"
            )


def check_partition_keys(
    partition_values: dict[str, str], partition_columns: list[str]
) -> None:
    """A partition address must name exactly the partition columns."""
    if set(partition_values) != set(partition_columns):
        raise ValueError(
            f"Partition keys {sorted(partition_values)} do not match dataset "
            f"partition columns {partition_columns}"
        )


def materialize_if_self_read(df: DataFrame, url: DatasetUrl) -> DataFrame:
    """Barrier a frame that reads from the dataset it is about to
    overwrite.

    The reference reads eagerly (Polars), so ``ds.write(ds.read_partition(
    ...))`` is always safe there. A lazy Spark scan written over its own
    source path fails mid-commit (FAILED_READ_FILE: the overwrite deletes
    files the still-running scan needs). Detect the overlap via the public
    ``inputFiles()`` listing and cut lineage with an eager localCheckpoint
    — the distributed equivalent of the reference's eager read (blocks
    stay on executors; no driver collect). Frames not reading from this
    dataset pass through untouched, keeping the normal write path lazy and
    pushdown-friendly.
    """
    # Compare scheme-stripped normalized locations, not raw string
    # prefixes: Hadoop renders input-file URIs differently across
    # versions/filesystems ('file:/p' single-slash from Path.toString,
    # 'file:///p', bare '/p'), and the dataset itself has two spellings
    # (fs_path vs spark_url, s3:// vs s3a://). Any spelling mismatch in a
    # prefix test would silently skip the checkpoint barrier and re-expose
    # the mid-commit FAILED_READ_FILE self-overwrite.
    prefix = _norm_location(url.spark_url).rstrip("/") + "/"
    try:
        files = df.inputFiles()
    except Exception:  # non-file-based plans (rare); stay conservative
        return df.localCheckpoint(eager=True)
    if any(_norm_location(f).startswith(prefix) for f in files):
        return df.localCheckpoint(eager=True)
    return df


class HiveDataset:
    """A Hive-partitioned Parquet dataset with the reference's lifecycle
    semantics, executing on Spark.

    Parameters mirror /root/reference/polario/hive_dataset.py:248-265:
    ``url`` (local path, file:// or s3://), ``partition_columns`` (values
    must be strings), ``max_rows_per_fragment`` (output file row bound).
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        partition_columns: Optional[list[str]] = None,
        max_rows_per_fragment: int = DEFAULT_ROWS_PER_FRAGMENT,
    ) -> None:
        self.spark = spark
        self.url = DatasetUrl(url)
        self.partition_columns = list(partition_columns or [])
        self.max_rows_per_fragment = max_rows_per_fragment

    def _data_columns(self, df: DataFrame) -> list[str]:
        """Non-partition columns, sorted alphabetically — the reference's
        on-disk column order (/root/reference/polario/hive_dataset.py:209-211)."""
        return sorted(c for c in df.columns if c not in self.partition_columns)

    def _ordered(self, df: DataFrame) -> DataFrame:
        """Presentation order: sorted data columns, then partition columns
        (/root/reference/polario/hive_dataset.py:186-191)."""
        return df.select(*self._data_columns(df), *self.partition_columns)

    # ------------------------------------------------------------------
    # writes
    # ------------------------------------------------------------------
    def _writer(self, df: DataFrame, sort_by: Optional[list[str]] = None):
        df = guard_partition_values(df, self.partition_columns)
        ordered = df.select(*self._data_columns(df), *self.partition_columns)
        if sort_by:
            # cluster rows per hive partition, then order within each task
            # by the sort key: every fragment comes out sorted, so its
            # parquet row-group min/max stats are tight and range filters
            # skip whole fragments at scan time
            if self.partition_columns:
                ordered = ordered.repartition(
                    *[F.col(c) for c in self.partition_columns]
                ).sortWithinPartitions(*self.partition_columns, *sort_by)
            else:
                ordered = ordered.sortWithinPartitions(*sort_by)
        writer = ordered.write.option("maxRecordsPerFile", self.max_rows_per_fragment)
        if self.partition_columns:
            # force DYNAMIC overwrite at the writer level, not just via the
            # session conf (which the driver may own and refuse to set): a
            # session defaulting to STATIC would otherwise delete every
            # partition absent from df — data loss vs the reference's
            # replace-only-touched-partitions contract
            # (/root/reference/polario/hive_dataset.py:412-415)
            writer = writer.option("partitionOverwriteMode", "dynamic")
            writer = writer.partitionBy(*self.partition_columns)
        return writer

    def write(self, df: DataFrame, sort_by: Optional[list[str]] = None) -> None:
        """Dynamic partition overwrite: replace exactly the partitions
        present in ``df``, leave all others intact
        (/root/reference/polario/hive_dataset.py:412-415).

        One Spark job; the per-partition split the reference does serially
        on the driver (/root/reference/polario/hive_dataset.py:372-410) is
        a parallel shuffle here.

        ``sort_by`` (net-new): order rows within each fragment by these
        columns so parquet min/max statistics enable row-group/file
        skipping on range predicates — the clustering lever for 100 TB
        scans.
        """
        check_partition_columns(df, self.partition_columns)
        df = materialize_if_self_read(df, self.url)
        self._writer(df, sort_by).mode("overwrite").parquet(self.url.spark_url)

    def append(self, df: DataFrame) -> None:
        """Append fragments to each touched partition
        (/root/reference/polario/hive_dataset.py:417-420)."""
        check_partition_columns(df, self.partition_columns)
        self._writer(df).mode("append").parquet(self.url.spark_url)

    def compact(
        self, partition_values: Optional[dict[str, str]] = None
    ) -> None:
        """Rewrite fragments at target size — the small-files lifecycle op
        (net-new; the reference accumulates fragments forever on append,
        /root/reference/polario/hive_dataset.py:232-245).

        Reads the targeted partition (or the whole dataset), clusters rows
        by partition key so each partition is written by one task, and
        dynamic-overwrites in place: fragments become
        ceil(rows / max_rows_per_fragment) per partition. At scale this is
        the maintenance job that keeps scan task counts proportional to
        data, not to append history; run it per-partition to bound the
        rewrite to hot partitions.
        """
        if partition_values is not None:
            df = self.read_partition(partition_values)
            if df is None:
                return
        else:
            df = self.scan()
            if df is None:
                return
        if self.partition_columns:
            df = df.repartition(*[F.col(c) for c in self.partition_columns])
        else:
            df = df.coalesce(1)
        # the rewrite overwrites the very files being read: cut lineage by
        # materializing first (executor-local checkpoint), the in-place
        # analog of the write-new-then-swap a table format would do
        self.write(df.localCheckpoint(eager=True))

    # ------------------------------------------------------------------
    # partition discovery (/root/reference/polario/hive_dataset.py:267-305)
    # ------------------------------------------------------------------
    def partitions(self) -> Iterator["OrderedDict[str, str]"]:
        """Yield partition key-value dicts in lexical path order.

        Lexical ordering is the reference's presentation contract
        (sorted(partitions), /root/reference/polario/hive_dataset.py:292).
        """
        if not self.partition_columns:
            if self.url.list_parquet_files(self.url.fs_path):
                yield OrderedDict()
            return
        for rel in self._partition_paths():
            yield self._parse_partition_path(rel)

    def _partition_paths(self) -> list[str]:
        """Relative ``k1=v1/k2=v2`` paths of non-empty partitions, sorted."""
        base = self.url.fs_path.rstrip("/")
        depth = len(self.partition_columns)
        found = set()
        for file_path in self.url.list_parquet_files(base):
            rel = file_path[len(base) + 1 :]
            segments = rel.split("/")
            if len(segments) == depth + 1:
                found.add("/".join(segments[:depth]))
        valid = []
        for rel in sorted(found):
            try:
                self._parse_partition_path(rel)
            except ValueError:
                continue
            valid.append(rel)
        return valid

    def _parse_partition_path(self, rel: str) -> "OrderedDict[str, str]":
        """Parse ``k1=v1/k2=v2`` into an ordered dict; ValueError if a path
        element lacks ``=`` (/root/reference/polario/hive_dataset.py:104-128)."""
        values: "OrderedDict[str, str]" = OrderedDict()
        segments = rel.strip("/").split("/")
        if len(segments) != len(self.partition_columns):
            raise ValueError(
                f"Partition path {rel!r} does not match partition columns "
                f"{self.partition_columns}"
            )
        for expected_key, segment in zip(self.partition_columns, segments):
            match = _PARTITION_SEGMENT_RE.match(segment)
            if not match:
                raise ValueError(f"Path element {segment!r} is not key=value")
            if match["key"] != expected_key:
                raise ValueError(
                    f"Expected partition key {expected_key!r}, got {match['key']!r}"
                )
            values[expected_key] = unescape_partition_value(match["value"])
        return values

    def _partition_rel_path(self, partition_values: dict[str, str]) -> str:
        return "/".join(
            f"{k}={escape_partition_value(partition_values[k])}"
            for k in self.partition_columns
        )

    # ------------------------------------------------------------------
    # reads
    # ------------------------------------------------------------------
    def _read_path(self, spark_path: str) -> DataFrame:
        df = (
            self.spark.read.option("mergeSchema", "true")
            .option("basePath", self.url.spark_url)
            .parquet(spark_path)
        )
        return self._ordered(df)

    def scan(self) -> Optional[DataFrame]:
        """Lazy whole-dataset frame; ``None`` if the dataset is empty
        (/root/reference/polario/hive_dataset.py:351-356).

        Improvement over the reference's lazy path: schemas ARE harmonized
        (mergeSchema), matching its eager ``read()`` semantics
        (/root/reference/polario/hive_dataset.py:158-181 vs 194-204).
        """
        if not self.url.list_parquet_files(self.url.fs_path):
            return None
        return self._read_path(self.url.spark_url)

    # Spark frames are lazy by construction; eager `read` == lazy `scan`.
    read = scan

    def read_partition(self, partition_values: dict[str, str]) -> Optional[DataFrame]:
        """Read exactly one partition by full key; ``None`` if absent
        (/root/reference/polario/hive_dataset.py:314-328).

        Static partition pruning: only the one directory is listed/scanned.
        """
        check_partition_keys(partition_values, self.partition_columns)
        rel = self._partition_rel_path(partition_values)
        if not self.url.list_parquet_files(self.url.join(rel)):
            return None
        return self._read_path(self.url.spark_join(rel))

    def read_partitions(self) -> Iterator[DataFrame]:
        """One DataFrame per partition, lexical order
        (/root/reference/polario/hive_dataset.py:307-312).

        Parity API — a driver-side loop. At scale prefer
        ``scan().filter(col(pcol) == value)`` (pruned, parallel).
        """
        for rel in self._partition_paths():
            yield self._read_path(self.url.spark_join(rel))

    # lazy aliases (Spark frames are always lazy)
    scan_partitions = read_partitions

    def delete_partition(self, partition_values: dict[str, str]) -> None:
        """Recursive delete of one partition directory
        (/root/reference/polario/hive_dataset.py:330-342)."""
        check_partition_keys(partition_values, self.partition_columns)
        self.url.delete_dir(self.url.join(self._partition_rel_path(partition_values)))
