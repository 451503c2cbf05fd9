"""get_spark's defaults: the host-fitted driver heap, the local
filesystem that sets permissions without forking chmod, serial partition
listing on local masters, and a codegen cache that holds the registry's
working set."""

from __future__ import annotations

import json
import logging
import os
import stat
import subprocess
import sys

from pyspark.sql import functions as F

import __spark_entry__
from polario_spark import HiveDataset
from polario_spark import session as S
from polario_spark.plans import codegen_compiles
from polario_spark.queries import _GATE_SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_driver_memory_is_half_the_host_within_1g_to_32g():
    gib = 2**30
    assert S.default_driver_memory(15 * gib) == "7g"
    assert S.default_driver_memory(16 * gib) == "8g"
    assert S.default_driver_memory(gib) == "1g"
    assert S.default_driver_memory(gib // 2) == "1g"
    assert S.default_driver_memory(128 * gib) == "32g"


def test_host_memory_is_capped_by_a_cgroup_limit(tmp_path):
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    unlimited, limited = tmp_path / "memory.max", tmp_path / "limit_in_bytes"
    unlimited.write_text("max\n")
    limited.write_text(f"{2**30}\n")
    assert S.host_memory_bytes((str(unlimited), str(tmp_path / "absent"))) == physical
    assert S.host_memory_bytes((str(unlimited), str(limited))) == min(physical, 2**30)


def test_session_driver_heap_fits_the_host(spark):
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        assert heap == override
        return
    assert heap == S.default_driver_memory(S.host_memory_bytes())
    assert heap.endswith("g") and int(heap[:-1]) * 2**30 <= S.host_memory_bytes()


def _local_fs(spark):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration()
    )


def _reaped_child_ticks(pid: int) -> int:
    """cutime + cstime: CPU of the children the process has waited for."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[13]) + int(fields[14])


def test_local_session_writes_without_forking(spark, tmp_path):
    jvm = spark._jvm
    fs = _local_fs(spark)
    assert fs.getClass().getName() == S.NOFORK_FS_CLASS
    ds = HiveDataset(spark, str(tmp_path / "ds"), ["part"], max_rows_per_fragment=50)
    frame = spark.range(0, 6400, numPartitions=4).select(
        "id", (F.col("id") % 64).cast("string").alias("part")
    )
    ds.write(frame)
    pid = jvm.java.lang.ProcessHandle.current().pid()
    # the stock filesystem reaps two chmod children per fragment, 256 per
    # append; a young JVM's one-time forks (the executor's first heartbeat
    # runs `getconf PAGESIZE`) can land in one of two windows, not in both
    reaped = []
    for _ in range(2):
        before = _reaped_child_ticks(pid)
        ds.append(frame)
        reaped.append(_reaped_child_ticks(pid) - before)
    assert min(reaped) == 0, reaped
    assert ds.scan().count() == 3 * 6400

    perm = jvm.org.apache.hadoop.fs.permission.FsPermission
    umask = perm.getUMask(spark.sparkContext._jsc.hadoopConfiguration())
    file_mode = perm.getFileDefault().applyUMask(umask).toShort()
    dir_mode = perm.getDirDefault().applyUMask(umask).toShort()
    fragments = 0
    for root, dirs, files in os.walk(tmp_path / "ds"):
        assert stat.S_IMODE(os.stat(root).st_mode) == dir_mode, root
        for name in files:
            path = os.path.join(root, name)
            assert stat.S_IMODE(os.stat(path).st_mode) == file_mode, path
            if name.endswith(".parquet"):
                fragments += 1
                assert os.path.exists(os.path.join(root, f".{name}.crc")), path
    assert fragments >= 3 * 64

    # any mode round-trips; the sticky bit goes through the stock call
    target = tmp_path / "modes"
    target.mkdir()
    for mode in (0o751, 0o640, 0o1755):
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(target)), perm(mode))
        assert stat.S_IMODE(os.stat(target).st_mode) == mode, oct(mode)


def _stock_local_fs(spark):
    """The class Hadoop resolves for file:// with no fs.file.impl set."""
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration()
    cls = jvm.org.apache.hadoop.fs.FileSystem.getFileSystemClass("file", conf)
    fs = jvm.org.apache.hadoop.util.ReflectionUtils.newInstance(cls, conf)
    fs.initialize(jvm.java.net.URI("file:///"), conf)
    return fs


def test_rename_onto_a_file_matches_the_stock_filesystem(spark, tmp_path):
    Path = spark._jvm.org.apache.hadoop.fs.Path
    for name, fs in (("stock", _stock_local_fs(spark)), ("nofork", _local_fs(spark))):
        src, dst = tmp_path / f"{name}.src", tmp_path / f"{name}.dst"
        src.write_text("src")
        dst.write_text("dst")
        moved = tmp_path / f"{name}.moved"
        assert not fs.rename(Path(str(src)), Path(str(dst))), name
        assert (src.read_text(), dst.read_text()) == ("src", "dst"), name
        assert fs.rename(Path(str(src)), Path(str(moved))), name
        assert moved.read_text() == "src" and not src.exists(), name


def test_nofork_conf_keeps_the_callers_classpath_and_filesystem(spark):
    conf = S._with_local_master_conf("local[2]", {"spark.driver.extraClassPath": "/a.jar"})
    first, jar = conf["spark.driver.extraClassPath"].split(os.pathsep)
    assert first == "/a.jar" and os.path.isfile(jar)
    assert conf["spark.hadoop.fs.file.impl"] == S.NOFORK_FS_CLASS
    mine = {"spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem"}
    assert S._with_local_master_conf("local", mine)["spark.hadoop.fs.file.impl"] == (
        "org.apache.hadoop.fs.LocalFileSystem"
    )
    assert not S._driver_can_load("polario_spark.jvm.NoSuchClass")


def test_non_local_master_keeps_the_stock_filesystem(caplog):
    with caplog.at_level(logging.INFO, logger=S.__name__):
        for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
            assert S._with_local_master_conf(master, {"k": "v"}) == {"k": "v"}
    assert len(caplog.records) == 3


_CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"


def test_listing_threshold_is_local_only_and_callers_keep_their_values():
    local = S._session_conf("local[2]", 4, {})
    assert local[S._LISTING_THRESHOLD] == str(2**31 - 1)
    assert local[_CODEGEN_CACHE] == str(S.CODEGEN_CACHE_ENTRIES)
    cluster = S._session_conf("spark://host:7077", 4, {})
    assert S._LISTING_THRESHOLD not in cluster
    assert cluster[_CODEGEN_CACHE] == str(S.CODEGEN_CACHE_ENTRIES)
    mine = {S._LISTING_THRESHOLD: "8", _CODEGEN_CACHE: "250"}
    for master in ("local[2]", "spark://host:7077"):
        conf = S._session_conf(master, 4, mine)
        assert (conf[S._LISTING_THRESHOLD], conf[_CODEGEN_CACHE]) == ("8", "250"), master


def _job_descriptions(spark, run) -> list[str]:
    """The descriptions of the Spark jobs ``run()`` starts, found by a
    job group."""
    sc = spark.sparkContext
    group = f"probe-{os.urandom(4).hex()}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    descriptions = (
        store.job(job_id).description() for job_id in sc.statusTracker().getJobIdsForGroup(group)
    )
    return [d.get() if d.isDefined() else "" for d in descriptions]


def test_local_scan_lists_partitions_without_a_spark_job(spark, tmp_path):
    ds = HiveDataset(spark, str(tmp_path / "ds"), ["part"])
    ds.write(
        spark.range(0, 640, numPartitions=2).select(
            "id", (F.col("id") % 64).cast("string").alias("part")
        )
    )
    listing = "Listing leaf files and directories"
    frames = []
    jobs = _job_descriptions(spark, lambda: frames.append(ds.scan()))
    assert not [d for d in jobs if d.startswith(listing)], jobs
    assert frames[0].count() == 640
    # the same scan at Spark's default threshold (32 < 64 directories)
    # lists with a job, which the probe sees
    stock = spark.newSession()
    stock.conf.set(S._LISTING_THRESHOLD, "32")
    stock_ds = HiveDataset(stock, str(tmp_path / "ds"), ["part"])
    jobs = _job_descriptions(stock, stock_ds.scan)
    assert [d for d in jobs if d.startswith(listing)], jobs


# the sf0.001 corpus beside the sf0.01 gate corpus
_SMALL_SF_DIR = os.path.join(os.path.dirname(_GATE_SF_DIR), "sf0.001")
# Registry entries whose generated classes carry no per-run literal; at
# sf0.001 one pass over them compiles 142 classes, more than Spark's
# default cache of 100 holds, so at that default a repeat pass compiles
# about 120 of them again.
_NO_LITERAL_ENTRIES = (
    "udtf_repeated_tokens",
    "events_props_map",
    "asof_click_before_purchase",
    "rollup_sales",
    "dedup_simhash",
    "streaming_events_hourly",
    "multimodal_features",
    "dedup_embedding_cosine",
    "text_quality",
)


def test_a_repeat_pass_over_registry_entries_compiles_nothing(spark):
    queries = __spark_entry__.queries()

    def one_pass() -> int:
        before = codegen_compiles(spark)
        for name in _NO_LITERAL_ENTRIES:
            queries[name](spark, _SMALL_SF_DIR).collect()
        return codegen_compiles(spark) - before

    one_pass()
    assert one_pass() == 0


_FALLBACK = """
import json, sys
from polario_spark import HiveDataset, session
session._find_javac = lambda: None
spark = session.get_spark("fallback", master="local[2]", shuffle_partitions=2)
jvm = spark._jvm
fs = jvm.org.apache.hadoop.fs.FileSystem.get(
    jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())
ds = HiveDataset(spark, sys.argv[1], ["p"])
ds.write(spark.createDataFrame([("a", 1), ("b", 2), ("b", 3)], "p string, v long"))
rows = sorted(tuple(r) for r in ds.scan().collect())
stock = jvm.org.apache.hadoop.fs.FileSystem.getFileSystemClass(
    "file", jvm.org.apache.hadoop.conf.Configuration())
print(json.dumps({"fs": fs.getClass().getName(), "stock": stock.getName(), "rows": rows,
                  "conf": spark.sparkContext.getConf().get("spark.hadoop.fs.file.impl")}))
spark.stop()
"""


def test_without_javac_a_session_keeps_the_stock_filesystem(tmp_path):
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(filter(None, (REPO, os.environ.get("PYTHONPATH")))),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    done = subprocess.run(
        [sys.executable, "-c", _FALLBACK, str(tmp_path / "ds")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert "no javac on this host" in done.stderr
    result = json.loads(done.stdout.strip().splitlines()[-1])
    assert result["fs"] == result["stock"] != S.NOFORK_FS_CLASS
    assert result["conf"] is None
    assert result["rows"] == [[1, "a"], [2, "b"], [3, "b"]]
