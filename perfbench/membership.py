"""Regenerate the registry membership in ``perfbench/workloads.json``.

Every registry entry belongs to exactly one group of the ``registry``
workload, decided by the library modules its Python code calls while it
builds and runs:

- ``registry_data``: the entry calls into ``polario_spark.operators.*``
  or ``polario_spark.streaming.*`` (executor work, shuffles and Python
  workers dominate);
- ``registry_floor``: every other entry (its work goes through
  ``sources.tables``, ``functions.*`` and ``plans.*``; driver build,
  planning, scheduling and collect dominate).

Each entry's latency on the gate corpus (the median of two runs in one
warm session) is printed beside its group, to choose the entries the
``registry`` workload times (its ``timed`` list) from; it is not stored.

Usage (from the repository root)::

    python3 perfbench/membership.py

Rewrites the ``registry_floor`` and ``registry_data`` sections of
``perfbench/workloads.json`` and leaves every other key as it is.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC_PATH = os.path.join(HERE, "workloads.json")
DATA_MODULES = ("polario_spark.operators.", "polario_spark.streaming.")


def classify(modules: set[str]) -> "tuple[str, str | None]":
    """(group, data module short name) for the set of module names an
    entry's Python calls went through. The short name is the last dotted
    part (``dedup``, ``similarity``, ``events`` ...); an entry that calls
    several data modules is attributed to the first in sorted order."""
    data = sorted(m for m in modules if m.startswith(DATA_MODULES))
    if not data:
        return "registry_floor", None
    return "registry_data", data[0].rsplit(".", 1)[1]


def main() -> int:
    sys.path.insert(0, ROOT)
    with open(SPEC_PATH) as fh:
        spec = json.load(fh)
    import __spark_entry__ as entry_mod
    from polario_spark import get_spark
    from polario_spark.plans import release_cached_residue
    from polario_spark.queries import _GATE_SF_DIR

    spark = get_spark(
        "perfbench_membership", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    seen: set[str] = set()

    def profile(frame, event, _arg):
        if event == "call":
            seen.add(frame.f_globals.get("__name__", ""))

    floor: dict[str, dict] = {}
    data: dict[str, dict] = {}
    for name, fn in entry_mod.queries().items():
        seen.clear()
        sys.setprofile(profile)
        threading.setprofile(profile)
        try:
            rows = fn(spark, _GATE_SF_DIR).collect()
        finally:
            sys.setprofile(None)
            threading.setprofile(None)
        release_cached_residue(spark)
        times = []
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, _GATE_SF_DIR).collect()
            times.append(time.perf_counter() - t0)
            release_cached_residue(spark)
        group, module = classify(seen)
        row = {"rows": len(rows)}
        if module is None:
            floor[name] = row
        else:
            data[name] = {"module": module, **row}
        print(f"{group:15s} {module or '-':14s} {statistics.median(times):6.3f} {name}", flush=True)
    spark.stop()
    spec["registry_floor"]["members"] = dict(sorted(floor.items()))
    spec["registry_data"]["members"] = dict(sorted(data.items()))
    with open(SPEC_PATH, "w") as fh:
        json.dump(spec, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
