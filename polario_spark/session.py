"""SparkSession factory with the engine's required configuration.

The reference's dataset semantics (string-typed partition columns, dynamic
partition overwrite, snappy parquet, ≤N rows per output file — see
/root/reference/polario/hive_dataset.py:17-22,223-230,366-370) map to Spark
session confs set here once, instead of per-call logic.

Scale notes (100 TB design): AQE is enabled so shuffle partition counts,
skew-join splitting and join strategy are re-planned at runtime from real
statistics; on a 1000-executor cluster the same confs hold — only
``spark.sql.shuffle.partitions`` (the AQE *initial* value) and memory sizing
change with cluster size.

Local filesystem: without libhadoop (PySpark's bundled Hadoop ships none),
Hadoop's ``RawLocalFileSystem.setPermission`` forks a ``chmod`` process, and
``ChecksumFileSystem.create`` calls it for every data file and again for its
``.crc`` — two forks per fragment written. On a local master ``file://`` is
therefore ``polario_spark/jvm/NoForkLocalFileSystem.java``: Hadoop's
checksummed ``LocalFileSystem`` over a raw layer that sets the same
permission bits through ``java.nio`` (the sticky bit, which NIO cannot
express, still goes through the stock call). ``.crc`` files are written and
verified as before, the umask applies as before (files 644, directories 755
under the default 022), and the on-disk layout is unchanged. Like the class
Spark's bundled jars register for ``file://`` (Hive's
``ProxyLocalFileSystem``), it refuses to rename onto an existing file. The
source is compiled once per source hash with the JDK's ``javac`` into a jar
under the temp root. Sessions on a non-local master (whose executors lack
the jar, and whose writes go to S3A/HDFS, which never fork), hosts without
``javac``, and driver JVMs that cannot load the class keep the stock
filesystem.

Partition listing: Spark lists a directory level of more than 32 entries
with a Spark job (``spark.sql.sources.parallelPartitionDiscovery.threshold``),
so every ``HiveDataset.scan()`` and ``compact()`` over 64 partitions ran a
64-task job just to list them. On a local master those tasks run in the
driver's JVM against the same disk, so the threshold is raised to the
largest int there and the driver lists serially. Non-local masters keep
Spark's parallel listing, which object stores need at scale.

Generated-code cache: on every master, since the driver's compile work
does not depend on the master, Spark's cache of compiled generated classes
(``spark.sql.codegen.cache.maxEntries``, default 100) holds
``CODEGEN_CACHE_ENTRIES``, sized from the registry's measured working set.
No data or result is cached: only the compiled code of a plan already
seen is reused.

A caller's ``extra_conf`` wins over each of these defaults.
"""

from __future__ import annotations

import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
import zipfile
from glob import glob

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

#: Reference default: DEFAULT_ROWS_PER_FRAGMENT = int(1e6)
#: (/root/reference/polario/hive_dataset.py:17)
DEFAULT_ROWS_PER_FRAGMENT = 1_000_000

#: The fork-free checksummed local filesystem (see the module docstring)
NOFORK_FS_SOURCE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "NoForkLocalFileSystem.java"
)
NOFORK_FS_CLASS = "polario_spark.jvm.NoForkLocalFileSystem"
_CLASSPATH = "spark.driver.extraClassPath"
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"

#: Generated classes Spark keeps compiled (``spark.sql.codegen.cache.maxEntries``,
#: Spark's default 100). One pass over the 119 registry entries at sf0.01
#: compiles 1,437 distinct classes, the 10 timed perfbench ``registry``
#: entries alone 176, so at 100 every pass evicts and recompiles them all
#: (1,975 compiles per pass over the registry). Holding them, a second pass
#: compiles only the 38 classes that carry per-run literals; 4096 holds the
#: whole registry with headroom.
CODEGEN_CACHE_ENTRIES = 4096
_KEEPS_STOCK_FS = "file:// keeps the stock Hadoop filesystem"


def host_memory_bytes(
    cgroup_files: tuple[str, ...] = (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ),
) -> int:
    """Physical memory, capped by a cgroup v2 or v1 limit when one is set."""
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in cgroup_files:
        try:
            with open(path) as fh:
                value = fh.read().strip()
        except OSError:
            continue
        if value.isdigit():  # cgroup v2 writes "max" for no limit
            limit = min(limit, int(value))
    return limit


def default_driver_memory(total_bytes: int) -> str:
    """Half of ``total_bytes`` as a driver heap, in whole GiB from 1g to 32g.

    A local master runs every task inside the driver JVM, so the heap is
    all of their execution memory; the other half is left to the Python
    workers, off-heap Arrow buffers and the page cache. Cluster deployments
    size executor memory externally and never use this default.
    """
    return f"{max(1, min(32, total_bytes // 2 // 2**30))}g"


def _find_javac() -> str | None:
    """The JDK's javac: ``$JAVA_HOME/bin/javac`` (the JDK Spark launches
    from), else the first on PATH."""
    home = os.environ.get("JAVA_HOME")
    if home and os.access(os.path.join(home, "bin", "javac"), os.X_OK):
        return os.path.join(home, "bin", "javac")
    return shutil.which("javac")


def _nofork_fs_jar() -> str | None:
    """The jar holding ``NOFORK_FS_CLASS``, compiled on first use into a
    cache under the temp root keyed by the source hash; None, with one log
    line, when the host has no javac or the compile fails."""
    javac = _find_javac()
    if javac is None:
        _log.warning("no javac on this host: %s", _KEEPS_STOCK_FS)
        return None
    with open(NOFORK_FS_SOURCE, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()[:16]
    cache = os.path.join(tempfile.gettempdir(), "polario_spark_jvm")
    jar = os.path.join(cache, f"NoForkLocalFileSystem-{digest}.jar")
    if os.path.exists(jar):
        return jar
    os.makedirs(cache, exist_ok=True)
    # the Hadoop API jar alone compiles in half the time of all of jars/
    hadoop_api = glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    with tempfile.TemporaryDirectory(dir=cache) as build:
        javac_run = subprocess.run(
            [javac, "--release", "17", "-cp", os.pathsep.join(hadoop_api),
             "-d", build, NOFORK_FS_SOURCE],
            capture_output=True, text=True,
        )
        if javac_run.returncode:
            _log.warning("javac failed, %s: %s", _KEEPS_STOCK_FS, javac_run.stderr.strip())
            return None
        # written aside and renamed, so a concurrent session never sees a
        # partial jar
        partial = os.path.join(build, "partial.jar")
        with zipfile.ZipFile(partial, "w") as zf:
            for path in glob(os.path.join(build, "**", "*.class"), recursive=True):
                zf.write(path, os.path.relpath(path, build))
        os.replace(partial, jar)
    return jar


def _driver_can_load(cls: str) -> bool:
    """Whether the session's driver JVM will load ``cls`` from
    ``spark.driver.extraClassPath``: true when getOrCreate is about to
    launch it, else asked of the running gateway."""
    gateway = SparkContext._gateway
    if gateway is None:
        # a JVM handed over by spark-submit was launched without the jar
        return "PYSPARK_GATEWAY_PORT" not in os.environ
    try:
        gateway.jvm.java.lang.Class.forName(cls)
    except Py4JJavaError:
        return False
    return True


def _with_local_master_conf(master: str, conf: dict[str, str]) -> dict[str, str]:
    """``conf`` plus the defaults that only fit a local master: serial
    listing of partition directories, and what makes ``file://`` the
    fork-free filesystem (the jar appended to the caller's driver
    classpath, and ``fs.file.impl`` when the driver JVM can load the
    class). A key the caller set keeps its value. Elsewhere ``conf``
    unchanged, with one log line."""
    if master != "local" and not master.startswith("local["):
        _log.info("master %s is not local: %s", master, _KEEPS_STOCK_FS)
        return conf
    # partition directories are listed on the driver: see the module docstring
    conf = {_LISTING_THRESHOLD: str(2**31 - 1), **conf}
    jar = _nofork_fs_jar()
    if jar is None:
        return conf
    conf[_CLASSPATH] = os.pathsep.join(filter(None, (conf.get(_CLASSPATH), jar)))
    if _driver_can_load(NOFORK_FS_CLASS):
        conf.setdefault("spark.hadoop.fs.file.impl", NOFORK_FS_CLASS)
    else:
        _log.warning(
            "the running driver JVM cannot load %s: %s", NOFORK_FS_CLASS, _KEEPS_STOCK_FS
        )
    return conf


def _session_conf(
    master: str, shuffle_partitions: int, extra_conf: dict[str, str]
) -> dict[str, str]:
    """Every conf ``get_spark`` sets on a session of ``master``; the
    caller's ``extra_conf`` wins over each default."""
    conf = {
        # -- shuffle & adaptive execution -------------------------------
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # -- driver-side compile: see CODEGEN_CACHE_ENTRIES -------------
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        # -- oracle comparability ---------------------------------------
        "spark.sql.session.timeZone": "UTC",
        # -- python <-> jvm transfer ------------------------------------
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # -- reference dataset-layout semantics -------------------------
        # partition values always read back as strings
        # (/root/reference/polario/hive_dataset.py:366-370)
        "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
        # HiveDataset.write overwrites only the partitions present in the
        # input frame (/root/reference/polario/hive_dataset.py:412-415)
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        # snappy parquet (/root/reference/polario/hive_dataset.py:19-22)
        "spark.sql.parquet.compression.codec": "snappy",
        "spark.sql.parquet.mergeSchema": "false",
        # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark's parquet
        # reader rejects by default; read as ns-since-epoch longs and convert
        # in polario_spark.sources.tables.load_events
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # driver-regenerated testdata carries untagged TIMESTAMP(MICROS);
        # Spark 4 infers TIMESTAMP_NTZ for those by default, which
        # unix_micros/withWatermark reject. Read them as TIMESTAMP (UTC
        # session tz makes the instant identical to the old ns-long path).
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        "spark.ui.enabled": "false",
        # half of host (or cgroup) memory, 1g-32g: see default_driver_memory
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or default_driver_memory(host_memory_bytes()),
    }
    return _with_local_master_conf(master, {**conf, **extra_conf})


def get_spark(
    app_name: str = "polario_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    Local test default: ``local[$SPARK_GRAFT_CPUS]``. On a cluster, pass
    ``master=None`` with externally-provided master conf and a
    ``shuffle_partitions`` sized ~2-3x total cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    spark = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=_session_conf(master, shuffle_partitions, extra_conf or {}))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
