"""Structured Streaming operators over the events table.

The events fixture is a batch parquet file; these operators read it through
``readStream`` (file source) so the streaming plan — watermarks, windowed
state, memory sink — is the real one. On a cluster the source swaps for
Kafka/kinesis with the same downstream plan.

``hourly_counts`` runs a tumbling-window aggregate to completion with an
availableNow-style drain and returns the result as a batch DataFrame, so
the driver's oracle can compare it against plain batch SQL — the streaming
plan must produce byte-identical results to the batch plan.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


#: shuffle/state partition count for the streaming drains. Stateful
#: streaming creates one state store per shuffle partition, and the count
#: is frozen into the checkpoint at first start — so it is sized to the
#: expected STATE volume (keys x state size), not to cluster width. The
#: fixture-scale default keeps per-batch state-store commit overhead low;
#: a real deployment sizes this up front (e.g. hundreds for 100 TB).
STATE_PARTITIONS = 8


def _assert_no_data_batch_safe(
    sink: DataFrame, output_mode: str, allow_watermark_gated_append: bool
) -> None:
    """Refuse sink shapes whose FINAL emission depends on the no-data
    micro-batch ``_drain_conf`` disables (round 16, hardening the r15
    optimization): an APPEND-mode streaming aggregation only emits a
    window once the watermark passes it — with no-data batches off, a
    finite drain stops before that batch and silently LOSES the last
    windows. The same holds for append-mode (flat)MapGroupsWithState
    timeouts. Every current drain is provably safe (complete-mode
    re-emission / update-mode deltas / arrival-batch dedup admission /
    inner-join emission on arrival); this guard makes the argument
    structural instead of a docstring promise. A future drain that
    NEEDS watermark-gated append must opt in explicitly — and keep
    no-data batches ON."""
    if allow_watermark_gated_append or output_mode != "append":
        return
    plan = sink._jdf.queryExecution().analyzed().toString()
    risky = [
        tok
        for tok in (
            "Aggregate",
            "FlatMapGroupsWithState",
            "FlatMapGroupsInPandasWithState",
            "TransformWithState",
        )
        if tok in plan
    ]
    if risky:
        raise ValueError(
            "_drain_conf disables no-data micro-batches, but this "
            f"append-mode sink contains {risky}: its watermark-gated "
            "final emission would be silently dropped by a finite "
            "drain. Use complete/update mode, or pass "
            "allow_watermark_gated_append=True AND keep no-data "
            "micro-batches enabled for this drain."
        )


@contextmanager
def _drain_conf(
    spark: SparkSession,
    n: int = STATE_PARTITIONS,
    sink: "DataFrame | None" = None,
    output_mode: "str | None" = None,
    allow_watermark_gated_append: bool = False,
):
    """Conf scope for the registry entries' finite drain-to-completion
    queries: ``n`` shuffle/state partitions (see ``STATE_PARTITIONS``)
    plus ``noDataMicroBatches.enabled=false``.

    After the data batch of a finite drain, Spark runs one more ZERO-ROW
    micro-batch purely to advance the watermark (evict state, emit
    watermark-gated appends). For every drain in this module that batch
    cannot change the SINK: complete-mode aggregates re-emit the same
    table, the sessionizer's evictions emit no deltas (state.remove()
    only), streaming dropDuplicates admits rows in their arrival batch,
    and the stream-stream inner join emits matches as they arrive —
    state cleanup is the only effect, and the query stops right after.
    The batch still costs a full pass over every state partition
    (measured ~1.0 s of stateful_sessions' 2.7 s warm drain: 8
    applyInPandasWithState partitions crossing the Python boundary with
    zero rows). A LONG-RUNNING production stream should keep no-data
    batches on — they are what makes watermark-gated results timely
    between bursts; this scope is only for run-to-completion drains
    whose sink provably cannot depend on it.

    Round 16: that safety argument is now ENFORCED, not just documented
    — pass the sink frame and its output mode and the scope refuses
    append-mode aggregation / stateful-timeout shapes (see
    ``_assert_no_data_batch_safe``).
    """
    if sink is not None and output_mode is not None:
        _assert_no_data_batch_safe(
            sink, output_mode, allow_watermark_gated_append
        )
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    old_ndmb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", old_ndmb
        )


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    # file streaming source needs an explicit schema; take it from a batch
    # read of the same file (ts arrives as ns-since-epoch bigint, see
    # polario_spark.sources.tables)
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    # withWatermark requires TIMESTAMP; if the batch read inferred
    # TIMESTAMP_NTZ for the untagged µs column (inferTimestampNTZ on),
    # override it in the user-specified stream schema — the reader honors
    # the requested type and the UTC session tz keeps the instant identical
    schema = T.StructType(
        [
            T.StructField(f.name, T.TimestampType(), f.nullable)
            if isinstance(f.dataType, T.TimestampNTZType)
            else f
            for f in schema.fields
        ]
    )
    # the file streaming source wants a directory. A Spark-written table
    # IS a directory named events.parquet — stream it directly; the
    # driver's testdata is a single flat file, which the source only
    # accepts via a glob filter over its parent. Before this branch the
    # glob path silently matched ZERO files for the directory layout
    # (pathGlobFilter filters leaf files, and none is named
    # events.parquet), so every streaming entry read an empty stream on
    # any Spark-written dataset.
    reader = spark.readStream.schema(schema)
    # Micro-batch sizing knob: the default file source puts EVERY file in
    # one mega-batch, which never exercises mid-stream watermark eviction.
    # The volume probe (tools/scale_probe.py stream) and state adversaries
    # set this so the drain processes several real micro-batches — the
    # regime where bounded-state claims are actually tested. Unset (the
    # default) leaves the entries' single-drain behavior untouched.
    mft = spark.conf.get("spark.polario.streamMaxFilesPerTrigger", "")
    if mft:
        reader = reader.option("maxFilesPerTrigger", mft)
    if os.path.isdir(path):
        stream = reader.parquet(path)
    else:
        stream = reader.option("pathGlobFilter", "events.parquet").parquet(
            sf_dir
        )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window counts/sums per event_type, via a real
    streaming query drained to a memory sink.

    Watermark bounds state at 1 hour; outputMode=complete emits every
    window, so the finite fixture matches batch semantics exactly.
    """
    agg = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    name = f"hourly_{uuid.uuid4().hex[:8]}"
    with _drain_conf(spark, sink=agg, output_mode="complete"):
        query = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()
    return spark.table(name).select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "n_events",
        "sum_value",
    )


def sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming aggregate: 1-hour windows sliding every 30
    minutes, per event_type. Each event lands in two overlapping windows;
    watermark bounds state exactly as in the tumbling case."""
    agg = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n_events"))
    )
    name = f"sliding_{uuid.uuid4().hex[:8]}"
    with _drain_conf(spark, sink=agg, output_mode="complete"):
        query = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()
    return spark.table(name).select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
    )


#: sessionization inactivity gap and the watermark delay bounding the
#: sessionizer's state lifetime.
SESSION_GAP_MIN = 30
SESSION_WATERMARK = "1 hour"


def sessionize_transform(stream: DataFrame) -> DataFrame:
    """Per-user 30-minute-gap sessionization over an event stream, via
    ``applyInPandasWithState`` — the transform only, so probes can attach
    it to a source whose micro-batching they control
    (tests/test_streaming_state_adversaries.py drops files between
    processAllAvailable calls).

    **State is BOUNDED via EventTimeTimeout + delta emission.** Each
    trigger emits per-user DELTAS (sessions opened, events seen this
    trigger); state carries only the user's last event time, and a
    timeout at last_ts + gap lets the watermark evict any user idle past
    the session gap — their already-emitted deltas fully describe their
    closed sessions. The earlier design (NoTimeout + cumulative counts,
    drain takes each user's max row) kept one state row per user EVER
    SEEN — unbounded at 100 TB; with eviction, state is bounded by the
    number of users active within the watermark horizon.

    Contract — ARRIVAL order across micro-batches: events are sorted
    WITHIN a batch and appended after everything already processed.
    When per-user arrival is event-time-ordered this equals the batch
    lag/cumsum sessionization exactly — including across an eviction,
    because a post-eviction event is (by the watermark that caused the
    eviction) more than the gap after the user's last event, i.e. a new
    session in event time too. A cross-batch straggler is stitched at
    its arrival position instead of re-opening a closed session.
    O(1)-per-key state cannot honor a stronger contract; event-time-
    exact sessions are the batch `events_sessions` /
    `session_window_stats` entries.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    GAP_US = SESSION_GAP_MIN * 60 * 1_000_000
    GAP_MS = SESSION_GAP_MIN * 60 * 1_000

    def sessionize(key, pdfs, state: GroupState):
        import pandas as pd

        def deltas(n_sessions, n_events):
            return pd.DataFrame(
                {
                    "user_id": pd.Series([key[0]], dtype="int64"),
                    "d_sessions": pd.Series([n_sessions], dtype="int64"),
                    "d_events": pd.Series([n_events], dtype="int64"),
                }
            )

        if state.hasTimedOut:
            # watermark passed last_ts + gap: no on-time event can extend
            # this user's session; everything countable was already
            # emitted as deltas — drop the state row.
            state.remove()
            return
        (last_us,) = state.get if state.exists else (None,)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["__us", "event_id"])
        us = rows["__us"].to_numpy()
        if not len(us):
            return
        prev = us.copy()
        prev[1:] = us[:-1]
        prev[0] = last_us if last_us is not None else us[0] - GAP_US - 1
        d_sessions = int((us - prev > GAP_US).sum())
        last_us = int(us[-1])
        state.update((last_us,))
        # expire once the watermark proves the gap elapsed; must be set
        # strictly beyond the current watermark (a batch of pure
        # stragglers could otherwise compute a timeout already in the
        # past, which EventTimeTimeout rejects)
        state.setTimeoutTimestamp(
            max(last_us // 1000 + GAP_MS, state.getCurrentWatermarkMs() + 1)
        )
        yield deltas(d_sessions, len(us))

    return (
        stream
        # sessionization is undefined for an unknown event time, and a
        # NaT reaching the pandas handler crashes the int64 ts cast
        # (round-8 temporal-adversary probe) — exclude at the scan, as
        # the batch sessionization entries and their oracles do
        .filter(F.col("ts").isNotNull())
        # EventTimeTimeout needs a watermark; define it on a CLAMPED
        # twin of ts so (a) a single year-9999 poison event cannot jump
        # the watermark to end-of-time and mass-evict every user, (b)
        # the watermarked column that must ride along to the stateful
        # operator stays inside pandas' datetime64[ns] range (raw
        # year-9999 would crash the Arrow->pandas conversion — round-8
        # probe), and (c) pre-epoch events (1930 crawl garbage — round-8
        # fixture) survive the FIRST batch: the initial watermark is
        # epoch 0 and the late-row filter compares this column, so an
        # unclamped pre-1970 timestamp would be silently "late" before
        # any data arrived, diverging from the batch oracle. Session
        # math still uses true event times via the integer __us column,
        # converted JVM-side.
        .withColumn(
            "__ts_w",
            F.least(
                F.greatest(
                    F.col("ts"), F.lit("1970-01-01 00:00:01").cast("timestamp")
                ),
                F.lit("2260-01-01 00:00:00").cast("timestamp"),
            ),
        )
        .withWatermark("__ts_w", SESSION_WATERMARK)
        .select(
            "user_id", "event_id", F.unix_micros("ts").alias("__us"), "__ts_w"
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            sessionize,
            outputStructType="user_id long, d_sessions long, d_events long",
            stateStructType="last_us long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def drain_sessions(spark: SparkSession, out: DataFrame) -> DataFrame:
    """Drain a ``sessionize_transform`` stream to a memory sink and SUM
    the per-trigger deltas into each user's final
    (n_sessions, total_events) row."""
    name = f"sessions_{uuid.uuid4().hex[:8]}"
    # Round 15 (opt): the sessionizer drain is Python-CPU-bound — one
    # applyInPandasWithState boundary crossing per state partition per
    # batch — so its width rides the session's core count instead of the
    # fixture-scale state default (8 partitions left 3/4 of a 32-core
    # machine idle; measured 2.16 -> 1.59 s at sf0.1). max() keeps the
    # state-volume dial authoritative when it is sized UP for production.
    n_sess = max(STATE_PARTITIONS, spark.sparkContext.defaultParallelism)
    with _drain_conf(spark, n=n_sess, sink=out, output_mode="update"):
        query = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()
    return spark.sql(
        f"""
        SELECT user_id,
               sum(d_sessions) AS n_sessions,
               sum(d_events) AS total_events
        FROM {name}
        GROUP BY user_id
        """
    )


def stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization with a
    30-minute inactivity gap — ``sessionize_transform`` over the events
    stream, drained to its per-user final rows. On per-user time-ordered
    arrival (any single drain of the fixture) the result is identical to
    the batch lag/cumsum sessionization, which is the oracle; the
    cross-batch arrival-order contract is documented on the transform."""
    return drain_sessions(spark, sessionize_transform(_event_stream(spark, sf_dir)))


def dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on (user_id, event_type) keyed state, then a
    per-type count of the deduped stream. Append-mode drain to a memory
    sink, aggregated after — the shape of an ingest pipeline that must
    admit each (user, type) once.

    Uses ``dropDuplicatesWithinWatermark``, NOT ``dropDuplicates``: with
    plain dropDuplicates a watermark does not evict key state unless the
    event-time column is itself one of the dedup keys — the round-9 probe
    (tests/test_streaming_state_adversaries.py) showed a key admitted at
    10:00 still suppressing duplicates long after the watermark passed
    its horizon, i.e. state grows with |distinct keys| FOREVER, a 100 TB
    scale-killer hiding behind a watermark that only filters late input.
    The WithinWatermark variant expires each key once the watermark
    passes its first-seen event time + delay: state is bounded by the
    horizon's key arrival rate, duplicates are suppressed exactly within
    the horizon, and a recurrence beyond it is re-admitted (at-least-once
    beyond the horizon — global exactness is the batch dedup family).
    Rows with NULL event time are admitted and deduped within each
    micro-batch, but their key state does not survive the trigger (expiry
    treats the unknown event time as already past — probed), so a
    NULL-ts duplicate in a LATER batch is re-admitted; a single drain of
    a static fixture sees them all in one batch and matches the batch
    oracle exactly. Exclude or default NULL event times upstream when
    exact NULL-key dedup matters."""
    stream = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    with _drain_conf(spark, sink=stream, output_mode="append"):
        query = (
            stream.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_users"))
        .orderBy(F.col("event_type").asc_nulls_last())
    )


def static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched with a static
    customer dimension (user_id = c_custkey), summarized per market
    segment.

    The static side is a plain batch DataFrame joined into every
    micro-batch — no state store is involved. The dim is NOT
    force-broadcast (round 11): customer scales with SF, so the planner
    picks broadcast from its size stats while it fits and a shuffled
    stream-static join when it doesn't — the same contract-bounded
    broadcast policy the batch queries adopted. The per-segment
    aggregation runs IN the stream (complete output mode), so the
    memory sink holds one row per market segment per trigger instead of
    the raw enriched event stream: the earlier append-mode shape
    materialized O(corpus) joined rows in the sink and died with a Java
    heap OOM at the x300 stream probe (30M enriched rows in a
    ParallelCollection-backed memory table) — a scale bug the probe
    caught that sf0.1 never could. Aggregate state is |segments| rows;
    the sink is bounded by the group count at any corpus size.

    **The dimension snapshot is frozen at query start** (probed, round
    9): the parquet file LISTING is resolved when the plan is built, so
    a dim file added later is silently invisible to every subsequent
    micro-batch (its rows just stop matching — no error), and a dim
    file replaced in place fails the stream loudly with
    FAILED_READ_FILE. Both behaviors are pinned in
    tests/test_streaming_state_adversaries.py. For genuinely refreshable
    dimensions use a table format with snapshot isolation (Delta — see
    delta_dataset.py) or restart the query on dim publish; do not rely
    on per-trigger re-reads of a raw parquet directory.
    """
    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey", "c_mktsegment")
    )
    enriched = (
        _event_stream(spark, sf_dir)
        .join(dim, F.col("user_id") == F.col("c_custkey"), "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("__sv"),
        )
    )
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    with _drain_conf(spark, sink=enriched, output_mode="complete"):
        query = (
            enriched.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()
    return (
        spark.table(name)
        .select(
            "c_mktsegment",
            "n_events",
            F.round("__sv", 2).alias("sum_value"),
        )
        .orderBy("c_mktsegment")
    )


#: partials-ledger schema for the foreachBatch sink (batch_id is the
#: dynamic-overwrite partition key; the explicit read schema lets the
#: read-back work on an empty/missing ledger without footer inference)
_LEDGER_SCHEMA = "event_type string, n bigint, sv double, batch_id bigint"


def ledger_sink(out: str):
    """foreachBatch function writing each micro-batch's partial
    aggregates to ``out`` partitioned by batch_id, with dynamic partition
    overwrite — the idempotence mechanism, module-level so the replay
    probe (tests/test_streaming_state_adversaries.py) can drive it
    directly.

    A restarted query RE-DELIVERS the last uncommitted batch with the
    SAME batch_id. With a plain ``mode("append")`` ledger (the previous
    design) the replay appends a second copy of the batch's partials and
    the compaction double-counts — the exact failure the batch_id exists
    to prevent, and invisible in a single drain (no restarts). Dynamic
    overwrite on the batch_id partition makes the replay rewrite its own
    partition byte-for-byte: sink(df, n) twice == once."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("sv"),
            )
            # cast: F.lit types a small Python int as IntegerType; the
            # ledger read declares batch_id bigint
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out)
        )

    return sink


def read_ledger_totals(spark: SparkSession, out: str) -> DataFrame:
    """Compact the partials ledger to final per-type totals. The explicit
    schema covers the empty-stream case (zero micro-batches -> no files
    under ``out``) without a seed write — a seed data file at the root
    would conflict with the batch_id=N partition directories."""
    import os

    if not os.path.isdir(out):
        back = spark.createDataFrame([], _LEDGER_SCHEMA)
    else:
        back = spark.read.schema(_LEDGER_SCHEMA).parquet(out)
    return (
        back.groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.round(F.sum("sv"), 2).alias("sum_value"),
        )
        .orderBy(F.col("event_type").asc_nulls_last())
    )


def foreachbatch_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``foreachBatch`` sink: per-micro-batch partial aggregates written
    to a parquet ledger (one partition per batch_id, dynamic overwrite),
    compacted to final totals after the drain.

    foreachBatch is the streaming escape hatch for sinks Spark lacks
    (JDBC upserts, MERGE INTO, multi-table writes): the function receives
    each micro-batch as a *batch* DataFrame plus a batch_id for
    idempotence. ``ledger_sink`` documents (and the replay probe pins)
    why the batch_id must drive a per-batch OVERWRITE rather than an
    append. Writing map-side partials and aggregating at read keeps the
    per-batch work tiny; the ledger compaction is the same
    partial->final pattern every distributed agg uses."""
    from polario_spark.workdir import work_dir

    out = work_dir(spark, "foreachbatch_totals") + "/partials"
    stream = _event_stream(spark, sf_dir)
    # foreachBatch ships whole micro-batches to the sink function; the
    # plan has no aggregation, so append semantics are arrival-batch
    with _drain_conf(spark, sink=stream, output_mode="append"):
        query = stream.writeStream.foreachBatch(ledger_sink(out)).start()
        try:
            query.processAllAvailable()
        finally:
            query.stop()
    return read_ledger_totals(spark, out)


def click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time range condition: each
    purchase joined to the same user's clicks in the preceding hour.

    Both sides carry watermarks so the join state is bounded — Spark keeps
    clicks only until no purchase can still match them (watermark + range
    upper bound), the canonical funnel/attribution join shape. Results are
    drained append-mode and aggregated per event-hour; must equal the
    batch join with the identical predicate.
    """
    base = _event_stream(spark, sf_dir)
    clicks = (
        base.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    # Round 15 (opt): a stream-stream join carries TWO state stores per
    # partition (one per side), so at a given state volume its per-batch
    # commit overhead is double every other drain's — halving the
    # partition count keeps stores-per-drain roughly level with the
    # single-store drains (measured 1.92 -> 1.39 s at sf0.1; the
    # STATE_PARTITIONS dial still sizes production state volume).
    with _drain_conf(
        spark, n=max(STATE_PARTITIONS // 2, 1), sink=joined,
        output_mode="append",
    ):
        query = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()
    return (
        spark.table(name)
        .groupBy(
            F.date_format(
                F.date_trunc("hour", "purchase_ts"), "yyyy-MM-dd HH:mm:ss"
            ).alias("purchase_hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n_attributed_clicks"),
            F.countDistinct("purchase_id").alias("n_purchases"),
        )
        .orderBy("purchase_hour")
    )
