"""Cross-engine fuzz of the portable text-expression layer (TXT).

Every builder in polario_spark.functions.text promises the SAME value in
both dialects — that promise underlies every tokenizing entry's oracle
(~15 of them). This probe evaluates the whole layer element-wise over a
~450-string adversarial corpus (empty/whitespace-only strings, Turkish
dotted I, ligatures, combining vs precomposed accents, emoji incl. ZWJ
sequences, zero-width and BOM characters, NBSP, RTL scripts, CJK,
fullwidth forms, control bytes, 500-char tokens, CRLF/blank-line
layouts, and seeded random concatenations of all of the above) and
compares Spark's result against DuckDB's.

What the round-9 run of this fuzz caught: DuckDB's bare ``trim()``
strips Unicode whitespace (U+00A0) while Spark's strips only ASCII
space, so ``lines()`` diverged on NBSP-leading lines — a silent
repetition_signals-vs-oracle divergence on any real crawl (NBSP is
common boilerplate padding). Fixed with an explicit ``trim(x, ' ')``;
this test pins the whole layer against the next such asymmetry.
"""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from polario_spark.functions import text as TXT

NASTY = [
    "", " ", "\t", "\n", "\r\n", "a", "A", "0", "ABC123", "Hello World",
    "İstanbul", "ııı İİİ", "straße", "ﬃ ligature", "ﬀ", "ﬆ",
    "é combining", "é precomposed", "café CAFÉ",
    "😀 emoji lead", "mid😀dle", "👨‍👩‍👧‍👦 zwj family", "\U0001F600\U0001F601",
    "​ zero width​", " nbsp sep", "﻿BOM lead",
    "tab\tsep", "cr\rsep", "mixed\r\nlines\nhere\n\n  \n",
    "العربية rtl نص", "עברית", "漢字テスト中文", "한국어 텍스트",
    "ΑΒΓ αβγ", "АБВ абв",
    "0123456789 9876543210", "a0b1c2", "UPPER lower MiXeD",
    "x" * 500, ("word " * 200).strip(), "ıİIi",
    "fullａｂwidth", "ﬁnancial ﬂow", "  line sep  para sep",
    "quote'quote\"dquote", "back\\slash", "percent%sign", "null\x01ctl\x02",
    # NUL bytes are legal in parquet strings and real in crawl data
    "nul\x00byte", "\x00", "\x00lead", "trail\x00", "a\x00b c\x00d",
    "ţ ť ŧ", "ñoño ÑOÑO", "ø Ø å Å", "đ Đ", "검색 엔진",
]


def _corpus() -> list[str]:
    rng = random.Random(42)
    pieces = NASTY + ["the", "of", "and", "is", "in", "tok1", "tok2",
                      "Tok3", "123"]
    corpus = list(NASTY)
    for _ in range(400):
        k = rng.randint(1, 6)
        corpus.append(
            rng.choice(["", " ", "\n", "\t"]).join(
                rng.choice(pieces) for _ in range(k)
            )
        )
    return corpus


#: name -> dialect-parameterized expression over a `text` column; `__toks`
#: is a bound token-array column (the hot-path shape window_hashes needs)
EXPRS = {
    "toks": lambda d: TXT.tokens("text", d),
    "sdt": lambda d: TXT.sorted_distinct_tokens("text", d),
    "big": lambda d: TXT.word_bigrams(TXT.tokens("text", d), d),
    "tri": lambda d: TXT.word_ngrams(TXT.tokens("text", d), 3, d),
    "lns": lambda d: TXT.lines("text", d),
    "h32": lambda d: TXT.md5_int32("text", d),
    "cm": lambda d: TXT.count_matching(
        TXT.tokens("text", d), TXT.STOPWORDS, d
    ),
    "wh": lambda d: TXT.window_hashes("text", 4, d, toks_col="__toks"),
}


@pytest.mark.parametrize("fn_name", list(EXPRS))
def test_text_layer_cross_engine(spark, tmp_path, fn_name):
    corpus = _corpus()
    pq = str(tmp_path / "fuzz.parquet")
    spark.createDataFrame(
        [(i, s) for i, s in enumerate(corpus)], "id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(pq)

    fn = EXPRS[fn_name]
    sdf = (
        spark.read.parquet(pq)
        .withColumn("__toks", F.expr(TXT.tokens("text", "spark")))
        .select("id", F.expr(fn("spark")).alias("v"))
        .orderBy("id")
    )
    srows = [(r["id"], list(r["v"]) if isinstance(r["v"], list) else r["v"])
             for r in sdf.collect()]

    con = duckdb.connect()
    drows = con.sql(
        f"""
        SELECT id, {fn('duckdb')} AS v
        FROM (SELECT id, text, {TXT.tokens('text', 'duckdb')} AS __toks
              FROM read_parquet('{pq}/*.parquet'))
        ORDER BY id
        """
    ).fetchall()

    assert len(srows) == len(drows) == len(corpus)
    for (sid, sv), (did, dv) in zip(srows, drows):
        assert sid == did
        assert sv == dv, (
            f"{fn_name} diverged on id={sid} text={corpus[sid][:60]!r}: "
            f"spark={sv!r} duckdb={dv!r}"
        )


ENTRY_AFFECTED = ["repetition_signals", "dedup_rolling_windows"]


@pytest.mark.parametrize("name", ENTRY_AFFECTED)
def test_affected_entries_on_empty_and_nbsp_docs(
    entry_mismatch, tmp_path, name
):
    """Entry-level pin of both round-9 fuzz findings: a corpus holding
    zero-token documents ('' / whitespace-only / punctuation-only — the
    window_hashes NULL-vs-md5('') divergence) and NBSP-leading lines
    (the lines() trim divergence) must agree with the oracle."""
    import os

    from polario_spark.sources.tables import TABLES

    clean = "/root/testdata/sf0.001"
    d = tmp_path / "nbsp_empty"
    d.mkdir()
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{clean}/{t}.parquet", d / f"{t}.parquet")
    con = duckdb.connect()
    con.execute(f"""
COPY (
  SELECT * FROM read_parquet('{clean}/documents.parquet')
  UNION ALL
  SELECT * FROM (VALUES
    (92001, '', 'en', 'src_fuzz', 0),
    (92002, '   ', 'en', 'src_fuzz', 3),
    (92003, '%%% ***', 'en', 'src_fuzz', 7),
    (92004, chr(160) || 'nbsp lead' || chr(10) || chr(160) || 'second', 'de', 'src_fuzz', 17),
    (92005, 'dup line' || chr(10) || chr(160) || 'dup line' || chr(10) || 'dup line', 'de', 'src_fuzz', 27)
  ) t(doc_id, text, lang, source, n_chars)
) TO '{d}/documents.parquet' (FORMAT PARQUET)""")
    assert entry_mismatch(str(d), name) is None


def test_invalid_utf8_parquet_behavior_is_pinned(spark, tmp_path):
    """Documented cross-engine LIMIT (round-9 probe): a parquet string
    column carrying INVALID UTF-8 (real in crawl data — sloppy writers
    pass raw bytes through) splits the engines at the SCAN:

    - Spark decodes with U+FFFD replacement characters and the job
      SURVIVES — the production-relevant behavior; replacement chars
      then flow through the tokenizer like any other non-word char.
    - DuckDB refuses the whole scan ("Invalid string encoding found in
      Parquet file"), so the oracle cannot ingest such a file AT ALL —
      cross-engine verification of this corpus class is impossible by
      construction, and the failure is LOUD (a job error), never a
      silent divergence.

    If DuckDB ever gains lenient decoding this pin fails and the class
    becomes verifiable — add it to the corrupt-row policies then."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vals = [b"good", b"bad\xff\xfebytes", b"\x80start", b"ok"]
    offsets = [0]
    data = b""
    for v in vals:
        data += v
        offsets.append(len(data))
    arr = pa.Array.from_buffers(
        pa.utf8(),
        len(vals),
        [
            None,
            pa.py_buffer(pa.array(offsets, pa.int32()).buffers()[1]),
            pa.py_buffer(data),
        ],
    )
    path = str(tmp_path / "badutf8.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2, 3, 4], pa.int64()), "text": arr}),
        path,
    )

    rows = (
        spark.read.parquet(path)
        .selectExpr("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )
    assert [r.text for r in rows] == [
        "good", "bad��bytes", "�start", "ok",
    ]

    con = duckdb.connect()
    with pytest.raises(Exception, match="[Ii]nvalid string encoding"):
        con.sql(f"SELECT text FROM read_parquet('{path}')").fetchall()
