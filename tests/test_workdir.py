"""Scratch-dir lifecycle: repeated invocation must not invalidate frames."""

from __future__ import annotations

import os

from polario_spark import queries as Q
from polario_spark.workdir import work_dir

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_work_dir_gives_fresh_path_per_invocation(spark):
    a = work_dir(spark, "unit-kind")
    b = work_dir(spark, "unit-kind")
    assert a != b
    assert os.path.isdir(a) and os.path.isdir(b)


def test_concurrent_stable_writer_warns(tmp_path):
    """The single-driver assumption behind stable work paths is enforced
    as a DETECTION (round 11): a second live process preparing the same
    stable dir must get a RuntimeWarning naming the race. Simulated with
    a child process that holds the flock while this process prepares."""
    import subprocess
    import sys
    import warnings

    from polario_spark import workdir

    path = str(tmp_path / "stable_kind")
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            (
                f"import sys, time; sys.path.insert(0, {REPO!r}); "
                "from polario_spark.workdir import prepare_stable_dir; "
                f"prepare_stable_dir({path!r}); print('locked', flush=True); "
                "time.sleep(30)"
            ),
        ],
        stdout=subprocess.PIPE,
    )
    try:
        assert child.stdout.readline().strip() == b"locked"
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            workdir.prepare_stable_dir(path)
        assert any(
            issubclass(w.category, RuntimeWarning)
            and "single-driver" in str(w.message)
            for w in caught
        ), [str(w.message) for w in caught]
        # same-process re-prepare (bench min-of-N) stays silent
        with warnings.catch_warnings(record=True) as caught2:
            warnings.simplefilter("always")
            workdir.prepare_stable_dir(path)
        assert not caught2
    finally:
        child.kill()
        child.wait()


def test_stable_path_keyed_by_corpus():
    """Round-14 race fix: stable paths fold the source corpus into the
    path, so processes driving different corpora write disjoint dirs.
    Pins (a) distinct corpora -> distinct paths, (b) path-spelling
    normalization (trailing slash), (c) the baked oracle constants in
    queries.py equal the runtime recomputation for the gate corpus —
    the invariant the oracle strings depend on."""
    from polario_spark import queries as Qm
    from polario_spark.workdir import stable_work_path

    a = stable_work_path("k", "/root/testdata/sf0.001")
    b = stable_work_path("k", "/root/testdata/sf0.01")
    assert a != b
    assert stable_work_path("k", "/root/testdata/sf0.01/") == b
    # same basename, different dir -> different path (md5 suffix)
    assert stable_work_path("k", "/tmp/elsewhere/sf0.01") != b
    for const, kind in [
        (Qm._SEMDEDUP_ASSIGN_PATH, "semdedup_assign"),
        (Qm._IVF_ASSIGN_PATH, "ivf_stride_assign"),
        (Qm._IVF_PROBES_PATH, "ivf_stride_probes"),
        (Qm._IVF_KM_ASSIGN_PATH, "ivf_kmeans_assign"),
        (Qm._IVF_KM_PROBES_PATH, "ivf_kmeans_probes"),
        (Qm._IVF_Q_ASSIGN_PATH, "ivf_quant_assign"),
        (Qm._IVF_Q_PROBES_PATH, "ivf_quant_probes"),
        (Qm._KMEANS_CENT_PATH, "kmeans_centroids"),
    ]:
        assert const == stable_work_path(kind, Qm._GATE_SF_DIR)


def test_rebind_stable_paths_raises_on_tag_drift():
    """r14 ADVICE: a rebind whose from-corpus tag is absent from SQL
    that nonetheless references the stable root must raise, not no-op —
    the no-op leaves the oracle silently reading another corpus's
    artifacts (the exact bug class corpus keying fixed). SQL with no
    stable-path literals at all still passes through untouched, and a
    matching tag still rebinds."""
    import pytest

    from polario_spark.workdir import (
        _STABLE_ROOT,
        rebind_stable_paths,
        stable_work_path,
    )

    frm_dir = os.path.dirname(stable_work_path("k", "/tmp/corpus_a"))
    to_dir = os.path.dirname(stable_work_path("k", "/tmp/corpus_b"))
    sql = f"SELECT * FROM parquet.`{frm_dir}/semdedup_assign`"
    # matching tag rebinds
    assert to_dir in rebind_stable_paths(sql, "/tmp/corpus_a", "/tmp/corpus_b")
    # tag drift: SQL holds the stable root under a THIRD corpus's tag
    drifted = f"SELECT * FROM parquet.`{_STABLE_ROOT}/othertag-deadbeef/x`"
    with pytest.raises(ValueError, match="from-corpus prefix"):
        rebind_stable_paths(drifted, "/tmp/corpus_a", "/tmp/corpus_b")
    # no stable literals -> untouched
    plain = "SELECT 1 AS one"
    assert rebind_stable_paths(plain, "/tmp/corpus_a", "/tmp/corpus_b") == plain
    # same corpus both sides -> no-op even with stable literals
    assert rebind_stable_paths(drifted, "/tmp/c", "/tmp/c") == drifted


_RACE_CHILD = """
import os, sys
sys.path.insert(0, sys.argv[4])
from polario_spark.workdir import prepare_stable_dir, stable_work_path
tag, corpus, iters = sys.argv[1], sys.argv[2], int(sys.argv[3])
path = stable_work_path('race_kind', corpus)
prepare_stable_dir(path)
fn = os.path.join(path, 'marker.txt')
for i in range(iters):
    # mode("overwrite") analogue: clear then rewrite, then read back --
    # the exact interleave the round-13 verdict reproduced across
    # processes on the old single shared path.
    try:
        if os.path.exists(fn):
            os.remove(fn)
        with open(fn, 'w') as f:
            f.write(tag)
        with open(fn) as f:
            got = f.read()
    except FileNotFoundError:
        print('RACE missing file at iter', i, flush=True)
        sys.exit(1)
    if got != tag:
        print('RACE read', got, 'at iter', i, flush=True)
        sys.exit(1)
print('OK', flush=True)
"""


def test_two_process_different_corpora_never_interleave(tmp_path):
    """The round-13 verdict's reproduced failure, as a regression test:
    two concurrent PROCESSES each overwrite-then-read a stable artifact
    for a DIFFERENT corpus. On the old layout (one fixed path per kind)
    both children hammer the same file and one reads the other's bytes
    or a mid-overwrite hole (demonstrated: pointing both children at ONE
    corpus dies with RACE/FileNotFoundError well inside 20k iterations);
    on the corpus-keyed layout their paths are disjoint, so both must
    complete all iterations reading exactly their own bytes."""
    import subprocess
    import sys

    corpus_a = tmp_path / "sf_alpha"
    corpus_b = tmp_path / "sf_beta"
    corpus_a.mkdir()
    corpus_b.mkdir()
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _RACE_CHILD, tag, str(corpus), "20000", REPO],
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
        )
        for tag, corpus in [("A", corpus_a), ("B", corpus_b)]
    ]
    outs = [p.communicate()[0].decode() for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    assert all(o.strip().endswith("OK") for o in outs), outs


def test_reinvoking_entry_keeps_first_frame_collectable(spark):
    """bench min-of-N re-invokes each registry entry in one session; the
    second invocation's scratch write must not delete the files a
    still-uncollected first frame reads from."""
    first = Q.csv_roundtrip(spark, "/root/testdata/sf0.001")
    second = Q.csv_roundtrip(spark, "/root/testdata/sf0.001")
    assert second.count() > 0
    assert first.count() > 0  # collected AFTER the second invocation wrote
