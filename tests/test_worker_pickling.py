"""Worker-environment adversary: the package must not need to be
importable on Spark's worker processes.

Every Python stage (mapInPandas / applyInPandas / pandas_udf /
applyInPandasWithState) ships its kernel to workers via cloudpickle. A
kernel defined as a CLOSURE travels by value — code and captured cells
serialized into the task — while a kernel that references a module-level
function travels by REFERENCE, forcing each worker to import
polario_spark. Workers inherit the driver's cwd and PYTHONPATH-at-launch
but NOT later ``sys.path`` mutations, so the by-reference shape breaks
exactly the deployment the round-9 /verify drive ran: a driver script
anywhere on disk doing ``sys.path.insert(0, repo)`` (it caught
extract_binary_features regressing this way mid-refactor, a
ModuleNotFoundError aborting the stage).

This test pins the property for every Python-stage registry entry by
running them from a subprocess whose cwd is a temp dir — the repo
reachable only through the driver-side sys.path insert, never from the
workers'. JVM-only entries can't regress here (nothing is pickled), so
they are left to the 117-entry driver gate.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PY_STAGE_ENTRIES = [
    "multimodal_features",
    "multimodal_frame_sample",
    "geomean_brand_price",
    "brand_price_zscore_top",
    "ols_price_per_brand",
    "streaming_stateful_sessions",
    "dedup_embedding_cosine",
    "dedup_embedding_cosine_lsh",
    "dedup_embedding_cosine_lsh_loose",
    "dedup_embedding_cosine_lsh_sized",
    "semantic_dedup",
    "ann_ivf_topk",
    "ann_ivf_quantized_topk",
    "ann_ivf_kmeans_topk",
]

DRIVER = r"""
import sys
sys.path.insert(0, {repo!r})
import __spark_entry__ as e
from polario_spark import get_spark
spark = get_spark("pathless_worker_probe")
qs = e.queries()
for name in {entries!r}:
    qs[name](spark, "/root/testdata/sf0.001").limit(1000000).count()
    print("OK", name, flush=True)
"""


def test_python_stage_entries_run_with_pathless_workers(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", DRIVER.format(repo=REPO, entries=PY_STAGE_ENTRIES)],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=480,
    )
    ok = [
        line.split(" ", 1)[1]
        for line in proc.stdout.splitlines()
        if line.startswith("OK ")
    ]
    assert proc.returncode == 0, (
        f"entries after {ok} failed:\n{proc.stderr[-3000:]}"
    )
    assert ok == PY_STAGE_ENTRIES
