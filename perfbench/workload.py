"""One benchmark run inside a fresh JVM: set up, run one workload's timed
phase, check every output, and write the result as JSON.

Started by ``perfbench/run.py``, which owns the host fitting, the
run-private scratch roots and the cleanup; see that file for the command.

Timed phase: one driver thread runs the workload's ops in a closed loop,
each op waiting for the previous one. Ops are grouped into units -- one
HiveDataset lifecycle cycle, or one pass over the timed registry
entries. After one untimed warm-up unit, a run measures ``--seconds``
divided by the workload's nominal unit time (``unit_s`` in
workloads.json), rounded, and at least two units, so every registry entry
is repeated; the unit count depends on ``--seconds`` alone, never on how
fast the units ran, so two commits always measure the same work. Each
op is timed, and its CPU time is taken: the CPU seconds the run's
processes (this one, the JVM, the Python workers) used while it ran.
Checking outputs and computing oracle answers happen between ops.

With ``--trace 1`` a run measures at least four units, and those in
A-B-B-A order (see ``traced_unit``) also
record spans and attribute Spark jobs to ops, and the per-layer metrics
come from them. That bookkeeping happens outside the ops' timed windows,
so the traced units' wall time (``trace.wall_s``) minus the untraced
units' is the overhead tracing adds to the measured ops
(``trace.overhead_s``), and ``trace.bookkeeping_s`` is the time it adds
to the run between them. The untraced units give the wall-clock
``latency.*`` metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 5
CLK_TCK = os.sysconf("SC_CLK_TCK")

# hive_lifecycle sizes (per cycle)
N_PARTITIONS = 64
WRITE_ROWS = 64_000
FRAGMENT_ROWS = 600
APPENDS = 3
APPEND_ROWS = 6_400
READS = 5
OVERWRITE_PARTITIONS = 8
OVERWRITE_ROWS = 64_000

HIVE_OPS = (
    "write", "append", "partitions", "read_partition", "scan", "overwrite",
    "compact", "delete_partition",
)
# the per-layer name of a registry entry's group: the data module it
# calls, or "floor" for an entry that calls none
DATA_MODULES = {
    "": "floor", "dedup": "dedup", "similarity": "similarity",
    "text_analysis": "text_analysis", "multimodal": "multimodal", "events": "streaming",
}


def rss_mb(pid: int) -> float:
    """Peak resident set size of a process, from /proc VmHWM."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def session_cpu_s(sid: int) -> float:
    """CPU seconds (user and system, own and reaped children's) of the
    processes of session ``sid``: the workload, the JVM and the Python
    workers. Time a process spent waiting for a CPU is not counted."""
    from run import session_procs

    ticks = sum(sum(int(f) for f in fields[11:15]) for _, fields in session_procs(sid))
    return ticks / CLK_TCK


def jit_threads(pid: int) -> dict[str, float]:
    """CPU seconds of each JIT compiler thread of JVM ``pid``, by thread id."""
    times = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
        except OSError:
            continue
        if "CompilerThre" in head:
            times[tid] = sum(int(f) for f in tail.split()[11:13]) / CLK_TCK
    return times


def jit_delta_s(before: dict[str, float], after: dict[str, float]) -> float:
    """JIT CPU between two ``jit_threads`` snapshots. The JVM starts and
    retires compiler threads as its queue grows and shrinks; a thread
    retired in between loses only its time since ``before``."""
    return sum(t - before.get(tid, 0.0) for tid, t in after.items())


def residue_stats(lo: int, n: int, residue: int) -> tuple[int, int]:
    """(count, sum) of the ids in [lo, lo + n) congruent to ``residue``
    modulo N_PARTITIONS -- the generator's closed form."""
    first = lo + (residue - lo) % N_PARTITIONS
    if first >= lo + n:
        return 0, 0
    count = (lo + n - 1 - first) // N_PARTITIONS + 1
    return count, count * first + N_PARTITIONS * count * (count - 1) // 2


def digest(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


class Run:
    """State of one run: the session, op records and failures."""

    def __init__(self, args, spec: dict, spark, tracer) -> None:
        self.args = args
        self.spec = spec
        self.spark = spark
        self.tracer = tracer
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.failed: set[str] = set()
        self.spark_by_op: dict[str, dict] = {}
        self.layer: dict[str, float] = defaultdict(float)
        self.unit = 0
        self.traced = False
        self.measuring = True
        self.cold_ops: list[dict] = []
        self.last_op: dict = {}
        self.layer["trace.bookkeeping_s"] = 0.0
        self.sid = os.getsid(0)
        self.jvm = spark.sparkContext._gateway.proc.pid

    def op(self, kind: str, op_id: str, fn):
        """Time one op and take the CPU time it cost; in a traced unit also
        take the JIT's share of that CPU and attribute its Spark jobs."""
        tracer, key = self.tracer, f"{self.unit}:{op_id}"
        first_job = tracer.job_count() if self.traced else 0
        jit = jit_threads(self.jvm) if self.traced else {}
        cpu = session_cpu_s(self.sid)
        start = time.perf_counter()
        try:
            with tracer.span(kind, op_id=key):
                return fn()
        finally:
            latency = time.perf_counter() - start
            self.last_op = {
                "kind": kind, "id": op_id, "unit": self.unit, "traced": self.traced,
                "latency_s": latency, "cpu_s": session_cpu_s(self.sid) - cpu,
            }
            if self.traced:
                self.last_op["jit_s"] = jit_delta_s(jit, jit_threads(self.jvm))
            (self.ops if self.measuring else self.cold_ops).append(self.last_op)
            if self.traced:
                t0 = time.perf_counter()
                self.spark_by_op[key] = tracer.spark_totals(first_job, tracer.job_count())
                self.layer["trace.bookkeeping_s"] += time.perf_counter() - t0

    def fail(self, op_id: str, what: str) -> None:
        """Count op ``op_id`` of the current unit as failed."""
        self.failed.add(f"{self.unit}:{op_id}")
        self.failures.append(f"unit {self.unit}: {what}")
        print(f"FAIL unit {self.unit}: {what}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# hive_lifecycle
# ---------------------------------------------------------------------------
class HiveLifecycle:
    """One unit = one dataset lifecycle on a fresh directory: full write,
    small appends, partition listing, point reads, a full-scan group-by,
    a subset dynamic overwrite, compaction and a partition delete."""

    def __init__(self, run: Run, work: str) -> None:
        self.run = run
        self.work = work
        rng = random.Random(run.args.seed)
        perm = list(range(N_PARTITIONS))
        rng.shuffle(perm)
        self.labels = [f"k{p:02d}" for p in perm]
        self.base = (run.args.seed % 10_000) * 10**8

    def frame(self, lo: int, n: int, parts: "int | None" = None, residues=None):
        from pyspark.sql import functions as F

        df = self.run.spark.range(lo, lo + n, numPartitions=parts)
        residue = F.pmod(F.col("id"), F.lit(N_PARTITIONS))
        if residues is not None:
            df = df.where(residue.isin(sorted(residues)))
        label = F.element_at(
            F.array(*[F.lit(x) for x in self.labels]), (residue + 1).cast("int")
        )
        seed = F.lit(self.run.args.seed)
        return df.select(
            label.alias("part"),
            F.col("id").alias("v"),
            F.xxhash64("id", seed).alias("h1"),
            F.hex(F.xxhash64(F.col("id") * 31, seed)).alias("h2"),
        )

    def files(self, ds) -> dict[str, int]:
        import pyarrow.fs as pafs

        infos = ds.url.fs.get_file_info(pafs.FileSelector(ds.url.fs_path, recursive=True))
        return {i.path: i.size for i in infos if i.path.endswith(".parquet")}

    def unit(self) -> None:
        from pyspark.sql import functions as F

        from polario_spark import HiveDataset

        run, unit = self.run, self.run.unit
        rng = random.Random(run.args.seed * 7919 + unit)
        path = os.path.join(self.work, f"cycle-{unit}")
        ds = HiveDataset(run.spark, path, ["part"], max_rows_per_fragment=FRAGMENT_ROWS)
        expected: dict[str, list[int]] = {x: [0, 0] for x in self.labels}
        lo = self.base + unit * 10**7
        written: dict[str, int] = {}

        def add(start: int, n: int, residues=None, replace=False) -> None:
            for r, label in enumerate(self.labels):
                if residues is not None and r not in residues:
                    continue
                count, total = residue_stats(start, n, r)
                cur = [0, 0] if replace else expected[label]
                expected[label] = [cur[0] + count, cur[1] + total]

        def track_writes() -> None:
            if run.traced:
                for p, size in self.files(ds).items():
                    written.setdefault(p, size)

        def check_rows(rows, op_id: str, what: str) -> None:
            got = {r[0]: [r[1], r[2]] for r in rows}
            want = {k: v for k, v in expected.items() if v[0]}
            if got != want:
                bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
                run.fail(op_id, f"{what}: per-partition count/sum differ for {bad[:5]}")

        def check_partitions(parts, op_id: str, what: str) -> None:
            got = sorted(p["part"] for p in parts)
            if got != sorted(k for k, v in expected.items() if v[0]):
                run.fail(op_id, f"{what}: partition set differs ({len(got)} partitions)")

        def agg(df):
            return df.groupBy("part").agg(F.count(F.lit(1)), F.sum("v")).collect()

        def fragments_max() -> int:
            per = defaultdict(int)
            for p in self.files(ds):
                per[os.path.basename(os.path.dirname(p))] += 1
            return max(per.values())

        run.op("write", "write", lambda: ds.write(self.frame(lo, WRITE_ROWS)))
        add(lo, WRITE_ROWS)
        track_writes()
        write_latency = run.last_op["latency_s"]
        for a in range(APPENDS):
            start = lo + WRITE_ROWS + a * APPEND_ROWS
            run.op("append", f"append{a}", lambda s=start: ds.append(self.frame(s, APPEND_ROWS, 1)))
            add(start, APPEND_ROWS)
            track_writes()
        if run.traced:
            run.layer["hive.fragments_per_partition_max_appended"] += fragments_max()
        parts = run.op("partitions", "partitions", lambda: list(ds.partitions()))
        check_partitions(parts, "partitions", "partitions")
        for i, label in enumerate(rng.sample(self.labels, READS)):
            rows = run.op(
                "read_partition", f"read{i}",
                lambda x=label: agg(ds.read_partition({"part": x})),
            )
            got = [tuple(r) for r in rows]
            if got != [(label, *expected[label])]:
                run.fail(f"read{i}", f"read_partition {label}: {got} != {expected[label]}")
        check_rows(run.op("scan", "scan", lambda: agg(ds.scan())), "scan", "scan")
        subset = set(rng.sample(range(N_PARTITIONS), OVERWRITE_PARTITIONS))
        start = lo + 5 * 10**6
        run.op(
            "overwrite", "overwrite",
            lambda: ds.write(self.frame(start, OVERWRITE_ROWS, residues=subset)),
        )
        add(start, OVERWRITE_ROWS, residues=subset, replace=True)
        track_writes()
        check_partitions(ds.partitions(), "overwrite", "after overwrite")
        run.op("compact", "compact", ds.compact)
        track_writes()
        if run.traced:
            run.layer["hive.fragments_per_partition_max_compacted"] += fragments_max()
        check_rows(agg(ds.scan()), "compact", "after compact")
        victim = rng.choice(self.labels)
        run.op("delete_partition", "delete", lambda: ds.delete_partition({"part": victim}))
        expected[victim] = [0, 0]
        check_partitions(ds.partitions(), "delete", "after delete")
        if run.traced:
            live = self.files(ds)
            live_bytes = sum(live.values())
            live_rows = sum(v[0] for v in expected.values())
            run.layer["hive.files_written"] += len(written)
            run.layer["hive.bytes_written"] += sum(written.values())
            run.layer["hive.write_amplification"] += sum(written.values()) / live_bytes
            run.layer["hive.stored_bytes_per_row"] += live_bytes / live_rows
            run.layer["hive.write_rows_per_s"] += WRITE_ROWS / write_latency
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# registry workload
# ---------------------------------------------------------------------------
class Registry:
    """One unit = one pass over the timed entries of both registry
    groups, in an order the seed and the unit number fix. Every output is compared with
    the entry's DuckDB oracle on the same corpus (column names, Arrow
    types, order-insensitive values) with the comparator of
    ``tools/check_oracles.py``, must be non-empty, and must have the same
    digest on every repeat."""

    def __init__(self, run: Run, name: str) -> None:
        import importlib.util

        import duckdb

        import __spark_entry__ as entry_mod
        from polario_spark.queries import _GATE_SF_DIR
        from polario_spark.sources.tables import TABLES

        self.run = run
        self.members: dict[str, dict] = {}
        for group in run.spec[name]["groups"]:
            self.members.update(run.spec[group]["members"])
        self.selected: list[str] = run.spec[name]["timed"]
        self.corpus = _GATE_SF_DIR
        if not os.path.isdir(self.corpus):
            raise SystemExit(f"gate corpus {self.corpus} not found")
        self.queries = entry_mod.queries()
        self.oracles = entry_mod.oracle_sql()
        spec = importlib.util.spec_from_file_location(
            "check_oracles", os.path.join(ROOT, "tools", "check_oracles.py")
        )
        self.checker = importlib.util.module_from_spec(spec)
        saved_path = list(sys.path)
        spec.loader.exec_module(self.checker)  # it prepends a fixed checkout path
        sys.path[:] = saved_path
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.corpus}/{t}.parquet')"
            )
        self.expected: dict[str, tuple] = {}
        self.digests: dict[str, str] = {}

    def oracle(self, name: str):
        """(sorted columns, canonical types, normalized rows) of the DuckDB
        oracle, computed once per run after the entry's first execution
        (some oracles read back what the entry wrote)."""
        if name not in self.expected:
            tbl = self.con.sql(self.oracles[name]).arrow()
            cols = list(tbl.schema.names)
            rows = [tuple(d[c] for c in cols) for d in tbl.to_pylist()]
            self.expected[name] = (
                sorted(cols), self.checker._type_map(tbl), self.checker.normalize(rows, cols)
            )
        return self.expected[name]

    def check(self, name: str, df, rows: list) -> None:
        from pyspark.sql.pandas.types import to_arrow_schema

        def fail(what: str) -> None:
            self.run.fail(name, f"{name}: {what}")

        cols = df.columns
        got = self.checker.normalize([tuple(r) for r in rows], cols)
        if not got:
            fail("empty output")
        if self.digests.setdefault(name, digest(got)) != digest(got):
            fail("output digest changed between repeats")
        if name not in self.oracles:
            return
        want_cols, want_types, want_rows = self.oracle(name)
        types = self.checker._type_map(to_arrow_schema(df.schema).empty_table())
        if sorted(cols) != want_cols:
            fail(f"columns {sorted(cols)} != oracle {want_cols}")
        elif types != want_types:
            fail(f"Arrow types {types} != oracle {want_types}")
        elif got != want_rows:
            fail(f"{len(got)} rows differ from the oracle's {len(want_rows)}")

    def entry(self, name: str):
        """The op: the callable through collect. Traced, it also forces
        the executed plan between build and collect, so planning is timed
        on its own."""
        tracer = self.run.tracer
        with tracer.span("registry.build"):
            df = self.queries[name](self.run.spark, self.corpus)
        if self.run.traced:
            with tracer.span("registry.plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("registry.exec"):
            rows = df.collect()
        return df, rows

    def unit(self) -> None:
        from polario_spark.plans import release_cached_residue

        run = self.run
        order = list(self.selected)
        random.Random(run.args.seed * 7919 + run.unit).shuffle(order)
        for name in order:
            try:
                df, rows = run.op(name, name, lambda n=name: self.entry(n))
            except Exception as exc:  # one failing entry must not hide the rest
                run.fail(name, f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
                continue
            self.check(name, df, rows)
            if run.traced:
                op = f"{run.unit}:{name}"
                for phase in ("build", "plan", "exec"):
                    run.layer[f"registry.{phase}_s"] += run.tracer.span_total(
                        f"registry.{phase}", op
                    )[1]
                calls, seconds = run.tracer.span_total("tables.load", op)
                run.layer["tables.load_calls"] += calls
                run.layer["tables.load_s"] += seconds
                layer = DATA_MODULES[self.members[name].get("module", "")]
                run.layer[f"{layer}.exec_s"] += run.last_op["latency_s"]
            release_cached_residue(run.spark)


# ---------------------------------------------------------------------------
# set-up, probes and metrics
# ---------------------------------------------------------------------------
def warm_up(spark) -> None:
    """JVM/codegen warm-up, the same for every workload; each workload's
    own code paths warm up in its untimed warm-up unit (see ``main``)."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()


def host_probes(spark) -> tuple[float, float]:
    """(calib, floor): a fixed JVM aggregation, and the best of three
    empty two-stage queries. They flag a loaded host; nothing is
    normalized by them."""
    t0 = time.perf_counter()
    spark.range(10_000_000).selectExpr("sum(id * 3 + 1)", "avg(id % 7)").collect()
    calib = time.perf_counter() - t0
    floors = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        floors.append(time.perf_counter() - t0)
    return calib, min(floors)


def samples_by_kind(ops: list[dict], key: str = "latency_s") -> dict[str, list[float]]:
    """One measure (``latency_s``, ``cpu_s``) of the ops, per op kind (a
    HiveDataset call, or a registry entry)."""
    by_kind = defaultdict(list)
    for o in ops:
        by_kind[o["kind"]].append(o[key])
    return by_kind


def unit_cost(ops: list[dict], key: str = "latency_s") -> float:
    """One unit with every op at its median: the sum over op kinds of the
    kind's median ``key`` times its count per unit. Unlike the median of
    the units' sums, one op slowed by a burst of host load moves it little."""
    units = len({o["unit"] for o in ops})
    return sum(
        statistics.median(v) * len(v) / units for v in samples_by_kind(ops, key).values()
    )


def kind_p50(ops: list[dict], key: str = "latency_s") -> float:
    """The median op kind's median ``key``: the median of the pooled
    samples would sit on the edge between two kinds and jump with noise."""
    return statistics.median(map(statistics.median, samples_by_kind(ops, key).values()))


def traced_unit(unit: int) -> bool:
    """Units a traced run traces: A-B-B-A over consecutive units, so a
    drift along the run (later units run warmer) cancels out of the
    traced-minus-untraced difference once there are four units."""
    return unit % 4 in (0, 3)


def latency_metrics(ops: list[dict]) -> dict:
    """Wall-clock figures of the ops: one unit's wall time, the median op
    kind's median latency, and the tail of all latencies pooled (a
    mixture quantile across op kinds, at the percentile ``tail_percentile``
    picks)."""
    from spans import tail_percentile

    p, tail = tail_percentile([o["latency_s"] for o in ops])
    return {"wall_s": unit_cost(ops), "op_p50_s": kind_p50(ops),
            "op_tail_s": tail, "op_tail_percentile": p}


def end_to_end(ops: list[dict], setups: list[float], rss: float) -> tuple[dict, dict]:
    """The median set-up's CPU time and the CPU time of one unit. CPU time
    leaves out time spent waiting for a CPU, which on a shared host moves
    wall-clock figures by more than any bound would allow; those, and the
    CPU time of the median op kind's op (too few samples to hold a bound),
    go on the detail line and are per-layer metrics of a traced run."""
    return {
        "setup_s": (statistics.median(setups), "s"),
        "cpu_s": (unit_cost(ops, "cpu_s"), "s"),
    }, {**latency_metrics(ops), "op_cpu_p50_s": kind_p50(ops, "cpu_s"), "op_samples": len(ops),
        "units": len({o["unit"] for o in ops}), "peak_rss_mb": rss}


def per_layer(
    run: Run, setup_parts: list[tuple], probes: list[tuple], cold_pass_s: float, rss: float
) -> dict:
    """Per-layer metrics, summed over the traced units and divided by
    their number; op latencies of the untraced units only enter
    ``trace.overhead_s``."""
    from spans import SPARK_KEYS

    traced = [o for o in run.ops if o["traced"]]
    untraced = [o for o in run.ops if not o["traced"]]
    n = len({o["unit"] for o in traced})
    traced_wall = unit_cost(traced)
    spark = dict.fromkeys(SPARK_KEYS, 0.0)
    for totals in run.spark_by_op.values():
        for k, v in totals.items():
            spark[k] += v
    m = {
        "session.first_start_s": (setup_parts[0][0], "s"),
        "session.start_s": (statistics.median(p[0] for p in setup_parts), "s"),
        "session.warmup_s": (statistics.median(p[1] for p in setup_parts), "s"),
        "host.calib_before_s": (probes[0][0], "s"),
        "host.calib_after_s": (probes[1][0], "s"),
        "host.floor_before_s": (probes[0][1], "s"),
        "host.floor_after_s": (probes[1][1], "s"),
        "trace.wall_s": (traced_wall, "s"),
        "trace.overhead_s": (traced_wall - unit_cost(untraced), "s"),
        "trace.bookkeeping_s": (run.layer["trace.bookkeeping_s"] / n, "s"),
        "mem.peak_rss_mb": (rss, "MB"),
        "session.cold_pass_s": (cold_pass_s, "s"),
        "cpu.jit_s": (sum(o["jit_s"] for o in traced) / n, "s"),
        "cpu.op_p50_s": (kind_p50(untraced, "cpu_s"), "s"),
    }
    latency = latency_metrics(untraced)
    for k in ("wall_s", "op_p50_s", "op_tail_s"):
        m[f"latency.{k}"] = (latency[k], "s")
    for k in SPARK_KEYS:
        unit = "s" if k.endswith("_s") else "bytes" if k.endswith("_bytes") else "count"
        m[f"spark.{k}"] = (spark[k] / n, unit)
    m["spark.cpu_share"] = (
        spark["task_cpu_s"] / spark["task_run_s"] if spark["task_run_s"] else 0.0, "ratio"
    )
    layer_units = {
        "tables.load_s": "s", "tables.load_calls": "count",
        "registry.build_s": "s", "registry.plan_s": "s", "registry.exec_s": "s",
        **{f"{mod}.exec_s": "s" for mod in sorted(set(DATA_MODULES.values()))},
        "hive.files_written": "count", "hive.bytes_written": "bytes",
        "hive.fragments_per_partition_max_appended": "count",
        "hive.fragments_per_partition_max_compacted": "count",
        "hive.write_amplification": "ratio", "hive.stored_bytes_per_row": "bytes",
        "hive.write_rows_per_s": "rows/s",
    }
    for k, unit in layer_units.items():
        m[k] = (run.layer.get(k, 0.0) / n, unit)
    per_kind = samples_by_kind(traced)
    for kind in HIVE_OPS:
        m[f"hive.{kind}_s"] = (sum(per_kind.get(kind, [])) / n, "s")
    for kind in ("append", "read_partition"):
        samples = per_kind.get(kind)
        m[f"hive.{kind}_p50_s"] = (statistics.median(samples) if samples else 0.0, "s")
    return m


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    from polario_spark import get_spark
    from polario_spark.sources import tables as tables_mod

    from spans import Tracer

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(args.run_dir, "warehouse"),
        # keep the JVM's temp files in the run's scratch root, and write
        # no hsperfdata file to the system-wide temp directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    # (session start wall, warm-up wall, CPU of both); the first set-up
    # also launches the JVM
    setup_parts = []
    for i in range(SETUPS):
        cpu = session_cpu_s(os.getsid(0))
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench_{args.workload}", extra_conf=conf)
        t1 = time.perf_counter()
        warm_up(spark)
        setup_parts.append(
            (t1 - t0, time.perf_counter() - t1, session_cpu_s(os.getsid(0)) - cpu)
        )
        if i < SETUPS - 1:
            spark.stop()
    tracer = Tracer(spark)
    if args.trace:
        # spans around the one sources.tables entry point, wherever the
        # library bound it
        load_table = tables_mod.load_table
        wrapped = tracer.wrap("tables.load", load_table)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("polario_spark") and \
                    getattr(mod, "load_table", None) is load_table:
                mod.load_table = wrapped
    run = Run(args, spec, spark, tracer)
    if args.workload == "hive_lifecycle":
        work = os.path.join(args.run_dir, "datasets")
        os.makedirs(work, exist_ok=True)
        workload = HiveLifecycle(run, work)
    else:
        workload = Registry(run, args.workload)
    probes = [host_probes(spark)] if args.trace else []

    def run_unit(fn) -> None:
        try:
            fn()
        except Exception as exc:  # a broken lifecycle ends the unit, not the run
            run.fail(run.last_op.get("id", "unit"), f"{type(exc).__name__}: {str(exc)[:300]}")
        print(f"[perfbench] unit {run.unit} done at {time.perf_counter() - started:.1f} s",
              file=sys.stderr, flush=True)

    # the untimed warm-up unit, an ordinary unit checked like every unit:
    # what the timed units reuse gets compiled (by the JVM's JIT and
    # Spark's codegen), cached and started (Python workers, streaming
    # state) here, out of the timed metrics. The JIT keeps compiling after
    # it: on a 4-vCPU host the first timed unit still runs 10-20% slower
    # than the later ones.
    started = time.perf_counter()
    run.measuring, run.unit = False, -1
    run_unit(workload.unit)
    cold_pass_s = time.perf_counter() - started
    run.measuring = True
    units = max(2, round(args.seconds / spec[args.workload]["unit_s"]))
    if args.trace:
        units = max(4, units)  # one whole A-B-B-A round of traced_unit
    for run.unit in range(units):
        run.traced = tracer.active = bool(args.trace) and traced_unit(run.unit)
        run_unit(workload.unit)
    tracer.active = False

    if args.trace:
        probes.append(host_probes(spark))
    rss = rss_mb(os.getpid()) + rss_mb(spark.sparkContext._gateway.proc.pid)
    metrics, detail = end_to_end(run.ops, [p[2] for p in setup_parts], rss)
    if args.trace:
        metrics = per_layer(run, setup_parts, probes, cold_pass_s, rss)
    with open(os.path.join(ROOT, ".bench_build", f"trace_{args.workload}.json"), "w") as fh:
        json.dump({"ops": run.ops, "cold_ops": run.cold_ops, "spans": tracer.spans,
                   "spark": run.spark_by_op}, fh)
    spark.stop()
    result = {
        "correct": not run.failed,
        "attempted": len(run.ops) + len(run.cold_ops),
        "failed": len(run.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    detail["error_rate"] = result["failed"] / result["attempted"]
    detail["failures"] = run.failures[:20]
    with open(args.out, "w") as fh:
        json.dump({"result": result, "detail": detail}, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
