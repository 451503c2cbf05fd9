"""Plan-shaping helpers for degenerate input parallelism.

A Parquet file is only scan-parallel down to its row groups; a
single-row-group file (common for small exports and test fixtures) yields a
one-task scan, and every narrow transformation above it — tokenize, hash,
explode, per-row feature extraction — inherits that single task no matter
how many cores the cluster has.

``ensure_parallelism`` is the guard the CPU-heavy operators place between
the scan and their hash/tokenize stages: when the incoming plan already has
enough partitions (any real multi-file / multi-row-group dataset at scale)
it is the identity and adds nothing to the plan; only when the input is
under-partitioned does it insert one round-robin repartition, trading a
shuffle of the (small, by construction) input for full-width execution of
everything above it.

``run_concurrently`` is the one way operators overlap independent Spark
jobs (typically two or three writes) from driver threads, so the second
job's tasks back-fill the executor slots the first job's tail leaves
idle.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, min_partitions: Optional[int] = None) -> DataFrame:
    """Repartition ``df`` up to ``min_partitions`` iff it has fewer.

    Identity on inputs that are already parallel enough — the common case
    on a cluster — so operators can call it unconditionally.

    The partition-count probe (``df.rdd.getNumPartitions()``) forces a
    physical plan conversion per call: milliseconds, paid once per
    operator call at plan-build time.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def run_concurrently(*thunks: Callable[[], object]) -> list:
    """Call each thunk in its own thread, wait for ALL of them, and return
    their results in submission order.

    If any thunk raises, the first failure in submission order is raised
    once every thunk has finished, with each other failure attached as a
    note (``add_note``) — no exception is left unread and no job is left
    running behind the caller. Spark local properties (job group,
    scheduler pool) are not copied into the pool threads.
    """
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=max(len(thunks), 1)) as pool:
        futures = [pool.submit(thunk) for thunk in thunks]
    errors = [f.exception() for f in futures if f.exception() is not None]
    if errors:
        first, *others = errors
        for other in others:
            first.add_note(
                f"concurrent failure: {type(other).__name__}: {other}"
            )
        raise first
    return [f.result() for f in futures]
