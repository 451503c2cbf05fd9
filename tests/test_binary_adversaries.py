"""Round-9 binary-payload probe: corrupt and extreme rows through the
multimodal (binary-column mapInPandas) family.

A real media corpus at 100 TB contains rows the happy path never sees:

- ``null``: a NULL payload (fetch failed, undecodable media) — naive
  kernels call ``len(None)`` and kill the whole Arrow batch;
- ``empty``: a zero-byte payload — must produce byte_len 0 / no frames,
  identically in both engines (DuckDB ``ascii('')`` is 0, not the
  kernel's -1 sentinel — the oracle must model bytes, not code points);
- ``multibyte``: a payload whose first BYTE is not its first CHARACTER
  (UTF-8 lead byte 0xF0 vs code point 128512) — any oracle written with
  ``ascii(substr(text,1,1))`` silently reports code points;
- ``huge``: a multi-megabyte payload — per-batch kernel memory must stay
  bounded by the byte-slicing cap, not by Arrow's row-count batching;
- ``orphan``: a non-NULL payload with a NULL doc_id — the id column
  arrives in pandas as float64 + NaN, and an unguarded int64 output
  schema turns one stray row into a batch-level conversion error.

Policy (mirrored verbatim in the oracles, SCALE.md "binary corrupt-row
policy"): NULL payloads are excluded at the kernel — an unreadable blob
has no features; NULL ids are excluded from frame attribution (frames
must attribute to a document) but pass through flat feature extraction
as a NULL-id feature row.
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from polario_spark.sources.tables import TABLES

CLEAN_SF = "/root/testdata/sf0.001"

AFFECTED = ["multimodal_features", "multimodal_frame_sample"]


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("adv_binary")
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{CLEAN_SF}/{t}.parquet", d / f"{t}.parquet")
    con = duckdb.connect()
    # ids divisible by 50 flow into multimodal_frame_sample's sampled set
    con.execute(f"""
COPY (
  WITH poison AS (
    SELECT 91000::BIGINT AS doc_id, repeat('é', 1000000) AS text,
           'en' AS lang, 'src_bin' AS source          -- 2 MB, non-ascii bytes
    UNION ALL
    SELECT 91100, NULL, 'en', 'src_bin'               -- NULL payload
    UNION ALL
    SELECT 91150, '', 'en', 'src_bin'                 -- zero-byte payload
    UNION ALL
    SELECT 91250, '\U0001F600 leading emoji', 'de', 'src_bin'
    UNION ALL
    SELECT NULL, 'orphan payload row', 'de', 'src_bin'
  )
  SELECT doc_id, text, lang, source, n_chars
  FROM read_parquet('{CLEAN_SF}/documents.parquet')
  UNION ALL
  SELECT doc_id, text, lang, source, length(text) AS n_chars FROM poison
) TO '{d}/documents.parquet' (FORMAT PARQUET)
""")
    return str(d)


@pytest.mark.parametrize("name", AFFECTED)
def test_multimodal_entries_survive_binary_poison(
    entry_mismatch, adv_dir, name
):
    assert entry_mismatch(adv_dir, name) is None


def test_features_cover_poison_rows(spark, adv_dir):
    """The poison source group itself must be present and byte-accurate:
    4 surviving docs (NULL payload excluded), total_bytes dominated by
    the 2 MB multibyte doc, and the emoji doc contributing lead byte 240
    — proving the kernel reports bytes, not characters or code points."""
    sdf = entry_mod.queries()["multimodal_features"](spark, adv_dir)
    row = {r["source"]: r for r in sdf.collect()}["src_bin"]
    assert row["n_docs"] == 4
    # 2_000_000 (é×1M) + 0 + (4 + 14) emoji doc + 18 orphan
    assert row["total_bytes"] == 2_000_000 + 0 + 18 + 18
    # first bytes: 195 (é), -1 (empty), 240 (emoji), 111 ('o')
    assert row["avg_first_byte"] == round((195 - 1 + 240 + 111) / 4, 4)


def test_frame_sample_bounded_on_huge_payload(spark, adv_dir):
    """The 2 MB doc produces ceil(ceil(2e6/64)/4) sampled chunks — the
    1:N explosion stays stride-bounded, and the NULL/empty payloads
    produce zero frames instead of killing the batch."""
    sdf = entry_mod.queries()["multimodal_frame_sample"](spark, adv_dir)
    rows = {r["doc_id"]: r for r in sdf.collect()}
    n_chunks_total = (2_000_000 + 63) // 64
    assert rows[91000]["n_chunks"] == (n_chunks_total + 3) // 4
    assert 91100 not in rows and 91150 not in rows


def test_feature_kernel_byte_slicing():
    """In-process kernel check (workers would re-import the module, so a
    monkeypatched global could never be observed through Spark): one
    100-row batch of 1 KiB payloads under a 4 KiB cap must split into
    ~25 slices — bounding the concat buffer — while the union of slice
    outputs is row-identical to the uncapped single-slice run."""
    import pandas as pd

    from polario_spark.operators.multimodal import _make_feature_kernel

    batch = pd.DataFrame(
        {
            "doc_id": range(100),
            "payload": [bytes([i % 256]) * 1024 for i in range(100)],
        }
    )
    capped = list(_make_feature_kernel("doc_id", (), 4 << 10)(iter([batch])))
    assert len(capped) >= 20  # genuinely sliced
    assert all(out["byte_len"].sum() <= 4 << 10 for out in capped)
    uncapped = list(
        _make_feature_kernel("doc_id", (), 64 << 20)(iter([batch]))
    )
    assert len(uncapped) == 1
    merged = pd.concat(capped, ignore_index=True)
    assert merged.equals(pd.concat(uncapped, ignore_index=True))


def test_feature_slicing_invariance_through_spark(spark, adv_dir):
    """End-to-end: running the operator with a 256 KiB cap (captured by
    value into the worker closure) over the poison corpus — the 2 MB doc
    alone spans ~8 slices — yields identical aggregates to the default."""
    from pyspark.sql import functions as F

    from polario_spark.operators.multimodal import (
        extract_binary_features,
        with_binary_payload,
    )

    docs = spark.read.parquet(f"{adv_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )

    def agg(feats):
        return sorted(
            map(
                tuple,
                feats.groupBy("source")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("byte_len").alias("b"),
                    F.sum("first_byte").alias("fb"),
                    F.round(F.sum("ascii_ratio"), 4).alias("ar"),
                )
                .collect(),
            ),
            key=repr,
        )

    payloads = with_binary_payload(docs, "text")
    base = agg(extract_binary_features(payloads, "doc_id", ("source",)))
    sliced = agg(
        extract_binary_features(
            payloads, "doc_id", ("source",), slice_bytes=256 << 10
        )
    )
    assert sliced == base
