"""Tests for the benchmark's own logic.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

from membership import classify  # noqa: E402
from spans import Tracer, tail_percentile  # noqa: E402
from workload import (  # noqa: E402
    N_PARTITIONS,
    jit_delta_s,
    kind_p50,
    residue_stats,
    session_cpu_s,
    traced_unit,
    unit_cost,
)


def _spec() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("n, p", [(11, 9), (20, 50), (40, 75), (56, 82), (100, 90), (1000, 99)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    samples = [float(i) for i in range(n, 0, -1)]  # unsorted input
    got_p, value = tail_percentile(samples)
    assert got_p == p
    assert sum(1 for s in samples if s > value) >= 10
    # one percentile higher would leave fewer than ten beyond
    if p < 99:
        rank = -(-(p + 1) * n // 100)
        assert n - rank < 10


def test_tail_percentile_refuses_fewer_than_eleven_samples():
    with pytest.raises(ValueError):
        tail_percentile([1.0] * 10)


def test_every_registry_entry_lands_in_exactly_one_group():
    import __spark_entry__ as entry_mod

    spec = _spec()
    assert spec["registry"]["groups"] == ["registry_floor", "registry_data"]
    floor = set(spec["registry_floor"]["members"])
    data = set(spec["registry_data"]["members"])
    assert not floor & data
    assert floor | data == set(entry_mod.queries())


def test_data_members_name_the_module_they_call():
    spec = _spec()
    modules = {m["module"] for m in spec["registry_data"]["members"].values()}
    assert modules <= {"dedup", "similarity", "text_analysis", "multimodal", "events"}
    assert all("module" not in m for m in spec["registry_floor"]["members"].values())


def test_classify_by_called_modules():
    assert classify({"polario_spark.queries", "polario_spark.sources.tables"}) == (
        "registry_floor", None)
    assert classify({"polario_spark.queries", "polario_spark.operators.dedup"}) == (
        "registry_data", "dedup")
    assert classify({"polario_spark.streaming.events"}) == ("registry_data", "events")


def test_timed_entries_are_members_covering_every_data_module():
    spec = _spec()
    floor = spec["registry_floor"]["members"]
    data = spec["registry_data"]["members"]
    timed = spec["registry"]["timed"]
    assert len(set(timed)) == len(timed)
    assert set(timed) <= set(floor) | set(data)
    assert any(n in floor for n in timed)
    assert {data[n]["module"] for n in timed if n in data} == {
        "dedup", "similarity", "text_analysis", "multimodal", "events"}


def test_unit_cost_prices_each_op_kind_at_its_median():
    ops = [
        {"kind": k, "unit": u, "latency_s": s, "cpu_s": 2 * s}
        for u, row in enumerate([(1.0, 0.2, 0.2), (1.1, 0.3, 0.2), (9.0, 0.2, 0.4)])
        for k, s in zip(("write", "read", "read"), row)
    ]
    # write: median 1.1, once per unit; read: median 0.2, twice per unit.
    # The 9 s write spike does not move it.
    assert unit_cost(ops) == pytest.approx(1.1 + 2 * 0.2)
    assert unit_cost(ops, "cpu_s") == pytest.approx(2 * (1.1 + 2 * 0.2))
    assert kind_p50(ops, "cpu_s") == pytest.approx((2.2 + 0.4) / 2)


def test_session_cpu_counts_a_busy_child_process():
    import subprocess

    before = session_cpu_s(os.getsid(0))
    subprocess.run(
        [sys.executable, "-c", "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.5: pass"],
        check=True,
    )
    # the reaped child's CPU moves into this process's children's time
    assert session_cpu_s(os.getsid(0)) - before >= 0.45


def test_jit_delta_counts_new_threads_and_drops_retired_ones():
    before = {"10": 5.0, "11": 2.0}
    after = {"10": 6.5, "12": 0.25}  # 11 retired, 12 started
    assert jit_delta_s(before, after) == pytest.approx(1.5 + 0.25)


def test_traced_units_alternate_abba():
    assert [traced_unit(u) for u in range(8)] == [
        True, False, False, True, True, False, False, True]


@pytest.mark.parametrize(
    "lo, n", [(0, 1), (5, 64), (10**9 + 3, 6_400), (17, 1000), (-(10**7) + 5, 6_400)]
)
def test_residue_stats_matches_brute_force(lo, n):
    for r in range(N_PARTITIONS):
        ids = [i for i in range(lo, lo + n) if i % N_PARTITIONS == r]
        assert residue_stats(lo, n, r) == (len(ids), sum(ids))


@pytest.fixture(scope="module")
def spark():
    from polario_spark import get_spark

    session = get_spark(
        "perfbench_test", master="local[2]", shuffle_partitions=2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield session
    session.stop()


def test_job_range_attribution_counts_pool_thread_jobs(spark):
    tracer = Tracer(spark)
    tracer.active = True
    spark.range(10).count()  # before the op: must not be attributed
    first = tracer.job_count()

    def pooled():
        with tracer.span("pooled"):
            return spark.range(100).selectExpr("id % 3 AS k").groupBy("k").count().collect()

    with tracer.span("op", op_id="op1"):
        spark.range(10).collect()
        with ThreadPoolExecutor(max_workers=1) as pool:
            rows = pool.submit(pooled).result()
    end = tracer.job_count()
    assert len(rows) == 3
    totals = tracer.spark_totals(first, end)
    assert totals["jobs"] == end - first >= 2
    assert totals["stages"] >= 2
    assert totals["tasks"] >= totals["stages"]
    assert totals["shuffle_write_bytes"] > 0
    assert totals["failed_tasks"] == 0
    # the pool thread's span hangs off the op that submitted it
    op_span = next(s for s in tracer.spans if s["name"] == "op")
    pooled_span = next(s for s in tracer.spans if s["name"] == "pooled")
    assert pooled_span["parent"] == op_span["id"]
    assert pooled_span["op"] == "op1"


def test_inactive_tracer_records_nothing(spark):
    tracer = Tracer(spark)
    wrapped = tracer.wrap("f", lambda x: x + 1)
    with tracer.span("op", op_id="op1"):
        assert wrapped(1) == 2
    assert tracer.spans == []
