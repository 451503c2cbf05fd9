"""Streaming semantics the registry oracles cannot exercise.

The registry's streaming entries drain the whole fixture through
``processAllAvailable`` and compare against batch SQL — that pins
stream/batch equivalence but never engages the WATERMARK: in a single
drain nothing is ever late. These tests feed multiple micro-batches
through a file source so watermark advancement, late-row dropping, and
append-mode window finalization — the mechanisms that BOUND STATE at
100 TB — actually run.
"""

from __future__ import annotations

import uuid
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _write_batch(src, name, timestamps):
    pq.write_table(
        pa.table({"ts": pa.array(timestamps, pa.timestamp("us"))}),
        str(src / name),
    )


def test_watermark_drops_late_rows_and_finalizes_windows(spark, tmp_path):
    """A row older than the current watermark must be DROPPED, not
    re-open its (already evicted) window state. Batch 1 advances the
    watermark to 13:30; batch 2 carries a 10:45 straggler plus a live
    15:30 row. If late rows were admitted, hour-10's window would emit a
    second time (its state was evicted after finalization) and the sink
    would show a duplicate hour-10 row."""
    src = tmp_path / "src"
    src.mkdir()
    _write_batch(src, "b1.parquet", [datetime(2026, 1, 1, 10, 30), datetime(2026, 1, 1, 13, 30)])
    schema = T.StructType([T.StructField("ts", T.TimestampType())])
    agg = (
        spark.readStream.schema(schema)
        .parquet(str(src))
        .withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    query = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        query.processAllAvailable()
        _write_batch(src, "b2.parquet", [datetime(2026, 1, 1, 10, 45), datetime(2026, 1, 1, 15, 30)])
        query.processAllAvailable()
    finally:
        query.stop()
    emitted = sorted(
        (r["w"].start.hour, r["n"]) for r in spark.table(name).collect()
    )
    # hour 10 emitted exactly once with only the on-time row; hour 13
    # finalized by batch 2's watermark advance; hour 15 never finalizes
    # (no later event), so append mode correctly withholds it
    assert emitted == [(10, 1), (13, 1)]


def test_watermark_admits_rows_inside_allowed_lateness(spark, tmp_path):
    """The complement: a straggler NEWER than the watermark must still be
    merged into its open window. With a 6-hour delay threshold the 10:45
    straggler in batch 2 is inside the allowed lateness, so hour-10's
    still-open window absorbs it and finally emits n=2."""
    src = tmp_path / "src"
    src.mkdir()
    _write_batch(src, "b1.parquet", [datetime(2026, 1, 1, 10, 30), datetime(2026, 1, 1, 13, 30)])
    schema = T.StructType([T.StructField("ts", T.TimestampType())])
    agg = (
        spark.readStream.schema(schema)
        .parquet(str(src))
        .withWatermark("ts", "6 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    name = f"graced_{uuid.uuid4().hex[:8]}"
    query = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        query.processAllAvailable()
        # watermark after b1 = 13:30 - 6h = 07:30 -> hour-10 still open
        _write_batch(src, "b2.parquet", [datetime(2026, 1, 1, 10, 45), datetime(2026, 1, 1, 18, 30)])
        query.processAllAvailable()
    finally:
        query.stop()
    emitted = sorted(
        (r["w"].start.hour, r["n"]) for r in spark.table(name).collect()
    )
    # watermark after b2 = 18:30 - 6h = 12:30: hour 10 finalizes with
    # BOTH its rows; hours 13 and 18 stay open and unemitted
    assert emitted == [(10, 2)]


def test_stream_reads_directory_layout_tables(spark, tmp_path):
    """A Spark-written table is a DIRECTORY named events.parquet; the
    stream source must read it identically to the driver fixture's flat
    single-file layout. (The glob-filter path silently matched zero
    files for directories — every streaming entry read an empty stream
    on any Spark-written dataset.)"""
    import os

    from polario_spark import queries as Q

    src = "/root/testdata/sf0.001"
    d = tmp_path / "sf_dirlayout"
    d.mkdir()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"]:
        os.symlink(f"{src}/{t}.parquet", str(d / f"{t}.parquet"))
    spark.read.parquet(f"{src}/events.parquet").write.parquet(
        str(d / "events.parquet")
    )
    flat = sorted(
        map(tuple, Q.REGISTRY["streaming_events_hourly"].spark(spark, src).collect())
    )
    assert flat, "flat-layout baseline must be non-empty"
    as_dir = sorted(
        map(tuple, Q.REGISTRY["streaming_events_hourly"].spark(spark, str(d)).collect())
    )
    assert as_dir == flat


def test_restart_recovers_window_state_from_checkpoint(spark, tmp_path):
    """Open window state must survive a stop/restart through the
    checkpoint: batch 1 leaves hour-13 open with one row; after a full
    stop, a NEW query on the same checkpoint absorbs a second hour-13
    row from batch 2 and emits n=2 — n=1 would mean the recovered query
    lost its state. The restart also runs under a different
    spark.sql.shuffle.partitions to pin that the state-partition count
    is frozen into the checkpoint at first start (SCALE.md, streaming):
    resizing the session knob later must not corrupt or re-key state."""
    src = tmp_path / "src"
    src.mkdir()
    chk = str(tmp_path / "chk")
    out = str(tmp_path / "out")
    schema = T.StructType([T.StructField("ts", T.TimestampType())])

    def run(shuffle_partitions):
        # the memory sink does not support recovery; the parquet file
        # sink does, and is what a real job would use
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        try:
            agg = (
                spark.readStream.schema(schema)
                .parquet(str(src))
                .withWatermark("ts", "0 seconds")
                .groupBy(F.window("ts", "1 hour").alias("w"))
                .agg(F.count("*").alias("n"))
            )
            query = (
                agg.writeStream.outputMode("append")
                .format("parquet")
                .option("path", out)
                .option("checkpointLocation", chk)
                .start()
            )
            try:
                query.processAllAvailable()
            finally:
                query.stop()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    def emitted():
        return sorted(
            (r["w"].start.hour, r["n"])
            for r in spark.read.parquet(out).collect()
        )

    _write_batch(src, "b1.parquet", [datetime(2026, 1, 1, 10, 30), datetime(2026, 1, 1, 13, 30)])
    run(3)
    # run 1: watermark reaches 13:30, finalizing hour 10 only
    assert emitted() == [(10, 1)]
    _write_batch(src, "b2.parquet", [datetime(2026, 1, 1, 13, 45), datetime(2026, 1, 1, 16, 30)])
    run(7)
    # run 2: recovered hour-13 state absorbs 13:45 -> n=2 when 16:30
    # advances the watermark; hour 16 stays open. n=1 here would mean
    # the restarted query lost the checkpointed window state.
    assert emitted() == [(10, 1), (13, 2)]


def test_foreachbatch_ledger_layout_is_partitioned_by_batch_id(spark):
    """Round-9 idempotence layout: the ledger is PARTITIONED by batch_id
    (dynamic overwrite per batch — the replay-safety mechanism, pinned
    behaviorally in tests/test_streaming_state_adversaries.py). Assert
    the physical layout: batch_id=N partition directories, batch_id
    absent from the data-file footers (it lives in the path), and the
    explicit-schema read-back typing it int64 — which also retires the
    round-8 INT32/INT64 mixed-footer hazard by construction (a partition
    value has no footer to disagree with)."""
    import glob as _glob
    import os

    from polario_spark import queries as Q
    from polario_spark import workdir

    Q.REGISTRY["streaming_foreachbatch_totals"].spark(
        spark, "/root/testdata/sf0.001"
    ).collect()
    app_root = os.path.join(
        workdir._WORK_ROOT, spark.sparkContext.applicationId
    )
    dirs = sorted(_glob.glob(os.path.join(app_root, "foreachbatch_totals-*")))
    assert dirs, "foreachbatch workdir not found"
    parts = _glob.glob(os.path.join(dirs[-1], "partials", "batch_id=*"))
    assert parts, "ledger must be partitioned by batch_id"
    files = _glob.glob(
        os.path.join(dirs[-1], "partials", "batch_id=*", "*.parquet")
    )
    assert files, "partition dirs must hold data files"
    for f in files:
        names = pq.read_schema(f).names
        assert "batch_id" not in names, (f, names)
    from polario_spark.streaming.events import _LEDGER_SCHEMA

    back = spark.read.schema(_LEDGER_SCHEMA).parquet(
        os.path.join(dirs[-1], "partials")
    )
    assert dict(back.dtypes)["batch_id"] == "bigint"


def _one_window_source(tmp_path):
    pq.write_table(
        pa.table(
            {
                "ts": pa.array([datetime(2024, 1, 1, 10, 0)] * 3),
                "event_type": pa.array(["click"] * 3),
                "value": pa.array([1.0, 2.0, 3.0]),
            }
        ),
        str(tmp_path / "ev.parquet"),
    )


def test_drain_refuses_watermark_gated_append_aggregation(spark, tmp_path):
    """``_drain`` runs without no-data micro-batches, so a watermark-gated
    APPEND-mode aggregation would silently lose its final windows: it must
    be refused before any query starts, and the same plan must drain in
    complete mode."""
    import pytest as _pytest

    from polario_spark.streaming import events as EV

    _one_window_source(tmp_path)
    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .parquet(str(tmp_path))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    with _pytest.raises(ValueError, match="watermark-gated"):
        EV._drain(stream, "append")
    assert not spark.streams.active
    rows = EV._drain(stream, "complete").select("event_type", "n").collect()
    assert [tuple(r) for r in rows] == [("click", 3)]


def test_drain_reads_plan_nodes_not_column_names(spark, tmp_path):
    """The append-mode guard looks at plan nodes: a column merely NAMED
    ``Aggregate`` over a plan with no aggregation drains normally."""
    from polario_spark.streaming import events as EV

    _one_window_source(tmp_path)
    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .parquet(str(tmp_path))
        .select(F.col("value").alias("Aggregate"))
    )
    rows = EV._drain(stream, "append").collect()
    assert sorted(r.Aggregate for r in rows) == [1.0, 2.0, 3.0]
