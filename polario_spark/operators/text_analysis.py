"""Text-analysis operators: token stats, quality scoring, language ID,
document fingerprinting.

Pure built-in expression pipelines (generated through
polario_spark.functions.text so the DuckDB oracle runs the identical
math). Per-row scalar work -> embarrassingly parallel; the aggregations
are map-side combinable groupBys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polario_spark.functions import text as TXT


def _metrics_exprs(
    text_col: str, dialect: str, toks_col: str | None = None
) -> dict[str, str]:
    """Per-doc lexical metric expressions. Pass ``toks_col`` (a bound
    token-array column) on the hot path — the inlined form evaluates the
    tokenizer ~6x per row across the metric set."""
    toks = toks_col or TXT.tokens(text_col, dialect)
    distinct = "array_distinct" if dialect == "spark" else "list_distinct"
    n_tokens = TXT.array_size(toks, dialect)
    n_distinct = TXT.array_size(f"{distinct}({toks})", dialect)
    n_stop = TXT.count_matching(toks, TXT.STOPWORDS, dialect)
    return {
        "n_tokens": n_tokens,
        "n_distinct": n_distinct,
        # lexical diversity + stopword density at double precision
        "distinct_ratio": f"round({n_distinct}::DOUBLE / {n_tokens}, 4)"
        if dialect == "duckdb"
        else f"round(cast({n_distinct} as double) / {n_tokens}, 4)",
        "stopword_ratio": f"round({n_stop}::DOUBLE / {n_tokens}, 4)"
        if dialect == "duckdb"
        else f"round(cast({n_stop} as double) / {n_tokens}, 4)",
        "avg_token_len": (
            f"round((length(replace(array_to_string({toks}, ' '), ' ', ''))"
            f")::DOUBLE / {n_tokens}, 4)"
            if dialect == "duckdb"
            else f"round(cast(length(replace({TXT.array_join(toks, ' ', 'spark')}, ' ', '')) as double) / {n_tokens}, 4)"
        ),
    }


def doc_metrics(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality metrics as new columns. The token array is a
    bound projection column so the tokenizer runs once per row, not once
    per metric reference (values are identical either way, so the SQL
    oracles built from the inlined doc_metrics_sql_exprs still match)."""
    exprs = _metrics_exprs(text_col, "spark", toks_col="__mtoks")
    out = docs.withColumns(
        {"__mtoks": F.expr(TXT.tokens(text_col, "spark"))}
    ).withColumns({name: F.expr(expr) for name, expr in exprs.items()})
    return out.drop("__mtoks")


def doc_metrics_sql_exprs(text_col: str = "text") -> dict[str, str]:
    return _metrics_exprs(text_col, "duckdb")


def lang_scores_exprs(text_col: str, dialect: str) -> dict[str, str]:
    toks = TXT.tokens(text_col, dialect)
    return {
        lang: TXT.count_matching(toks, words, dialect)
        for lang, words in TXT.LANG_MARKERS.items()
    }


def predicted_lang_expr(text_col: str, dialect: str) -> str:
    """Deterministic argmax over marker-word scores; 'und' (undetermined)
    when no marker occurs. Ties resolve in fixed language order."""
    scores = lang_scores_exprs(text_col, dialect)
    langs = list(scores)
    gt = ", ".join(scores.values())
    cases = " ".join(
        f"WHEN {scores[lang]} = greatest({gt}) THEN '{lang}'" for lang in langs
    )
    any_marker = " + ".join(scores.values())
    return f"(CASE WHEN ({any_marker}) = 0 THEN 'und' {cases} END)"


def filter_flag_exprs(
    text_col: str,
    dialect: str,
    toks_col: str | None = None,
    dtoks_col: str | None = None,
) -> dict[str, str]:
    """Corpus-cleaning filter flags (Gopher-rule style, Rae et al. '21,
    adapted to single-line fixture docs), each a 0/1 integer expression.

    All thresholds are compared in integer arithmetic (ratio r >= t
    rewritten as n*den >= t_num*num) so Spark and the SQL oracle can never
    disagree on a float boundary:

    - ``pass_len``: 10 <= n_tokens <= 1000;
    - ``pass_diversity``: distinct/total token ratio >= 0.3;
    - ``pass_top_freq``: most frequent token <= 20% of tokens (the
      single-token analog of Gopher's duplicate-line fraction);
    - ``pass_word_len``: mean token length in [3, 10] chars.

    Pass ``toks_col``/``dtoks_col`` (names of BOUND array columns) on the
    hot path so the tokenizer runs once per document, not once per flag.

    The Spark top-freq flag is a sorted-run scan — sort the token array,
    then one ``aggregate`` pass tracking the longest run of equal adjacent
    tokens — O(n log n) per document. (The direct form
    ``array_max(transform(dtoks, t -> size(filter(toks, ...))))`` is
    O(|distinct| x |tokens|) per document, the costliest interpreted HOF
    in the registry; quadratic blows up exactly on the long spammy
    documents this flag exists to catch.) The DuckDB oracle takes the
    max of the token HISTOGRAM (``list_aggregate(.., 'histogram')``, a
    hash count, O(|tokens|)) — an independent computation of the same
    statistic, not a replay of the sorted-run scan. ``nullif(.., 0)``
    pins the Spark side to the oracle's NULL-on-empty-array result
    (``aggregate`` over an empty array returns the init value 0, while
    the histogram of an empty list and ``list_max([])`` are NULL — a
    zero-token doc must not flip to "pass").
    """
    toks = toks_col or TXT.tokens(text_col, dialect)
    dtoks = dtoks_col or TXT.distinct_tokens(text_col, dialect)
    n_tokens = TXT.array_size(toks, dialect)
    n_distinct = TXT.array_size(dtoks, dialect)
    if dialect == "spark":
        top_freq = (
            f"nullif(aggregate(array_sort({toks}), "
            f"named_struct('prev', cast(null as string), 'run', 0, 'best', 0), "
            f"(acc, x) -> if(acc.prev is not null and x = acc.prev, "
            f"named_struct('prev', x, 'run', acc.run + 1, "
            f"'best', greatest(acc.best, acc.run + 1)), "
            f"named_struct('prev', x, 'run', 1, "
            f"'best', greatest(acc.best, 1))), "
            f"acc -> acc.best), 0)"
        )
        n_chars = f"length(replace({TXT.array_join(toks, ' ', 'spark')}, ' ', ''))"
    else:
        top_freq = f"list_max(map_values(list_aggregate({toks}, 'histogram')))"
        n_chars = f"length(replace(array_to_string({toks}, ' '), ' ', ''))"
    as_int = (lambda e: f"({e})::INT") if dialect == "duckdb" else (
        lambda e: f"cast(({e}) as int)"
    )
    return {
        "pass_len": as_int(f"{n_tokens} BETWEEN 10 AND 1000"),
        "pass_diversity": as_int(f"{n_distinct} * 10 >= {n_tokens} * 3"),
        "pass_top_freq": as_int(f"({top_freq}) * 5 <= {n_tokens}"),
        "pass_word_len": as_int(
            f"{n_chars} >= 3 * {n_tokens} AND {n_chars} <= 10 * {n_tokens}"
        ),
    }


def _dup_frac_expr(arr_col: str, dialect: str) -> str:
    """Count-weighted duplicate share of a BOUND array column:
    1 - distinct/total, 0 for empty arrays. Integer numerator and
    denominator; the only float op is the final divide — cross-engine
    stable at round(·, 4)."""
    distinct = "array_distinct" if dialect == "spark" else "list_distinct"
    total = TXT.array_size(arr_col, dialect)
    uniq = TXT.array_size(f"{distinct}({arr_col})", dialect)
    ratio = (
        f"({total} - {uniq})::DOUBLE / {total}"
        if dialect == "duckdb"
        else f"cast({total} - {uniq} as double) / {total}"
    )
    return f"round(case when {total} = 0 then 0.0 else {ratio} end, 4)"


def _repetition_signal_exprs(dialect: str) -> dict[str, str]:
    """Signals over the bound helper columns __toks/__lines/__g2/__g3."""
    return {
        "n_lines": TXT.array_size("__lines", dialect),
        "dup_line_frac": _dup_frac_expr("__lines", dialect),
        "dup_token_frac": _dup_frac_expr("__toks", dialect),
        "dup_bigram_frac": _dup_frac_expr("__g2", dialect),
        "dup_trigram_frac": _dup_frac_expr("__g3", dialect),
    }


def repetition_frame(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Intra-document repetition signals (Gopher repetition rules, Rae et
    al. '21 §A1.1): duplicate line / token / bigram / trigram fractions
    as new columns. One corpus pass, no explode, no shuffle.

    The token/line/n-gram arrays are BOUND as intermediate projection
    columns, not inlined into each signal: Spark's higher-order array
    functions are interpreted and re-evaluate an inlined argument
    expression on every lambda element, so an inlined tokenizer inside
    slice() turns n-gram construction quadratic in document length
    (~12 ms/doc measured at sf0.1 — 60 s for the corpus; bound form runs
    the whole table in <1 s). CollapseProject keeps the bindings: they
    are non-cheap expressions referenced more than once downstream.
    """
    bound = docs.withColumns(
        {
            "__toks": F.expr(TXT.tokens(text_col, "spark")),
            "__lines": F.expr(TXT.lines(text_col, "spark")),
        }
    ).withColumns(
        {
            "__g2": F.expr(TXT.word_ngrams("__toks", 2, "spark")),
            "__g3": F.expr(TXT.word_ngrams("__toks", 3, "spark")),
        }
    )
    out = bound.withColumns(
        {
            name: F.expr(expr)
            for name, expr in _repetition_signal_exprs("spark").items()
        }
    )
    return out.drop("__toks", "__lines", "__g2", "__g3")


def repetition_signals_sql(table: str = "documents", text_col: str = "text") -> str:
    """DuckDB twin of repetition_frame (doc_id + signals), same CTE-bound
    arrays so both engines evaluate each helper array once per row."""
    sig = _repetition_signal_exprs("duckdb")
    cols = ",\n       ".join(f"{expr} AS {name}" for name, expr in sig.items())
    return f"""
WITH b AS (
  SELECT doc_id,
         {TXT.tokens(text_col, 'duckdb')} AS __toks,
         {TXT.lines(text_col, 'duckdb')} AS __lines
  FROM {table}
),
g AS (
  SELECT doc_id, __toks, __lines,
         {TXT.word_ngrams('__toks', 2, 'duckdb')} AS __g2,
         {TXT.word_ngrams('__toks', 3, 'duckdb')} AS __g3
  FROM b
)
SELECT doc_id,
       {cols}
FROM g
ORDER BY doc_id
"""


def fingerprint_expr(text_col: str, dialect: str) -> str:
    """Content fingerprint: md5 of the sorted distinct token set (word-order
    independent document identity)."""
    joined = TXT.array_join(TXT.sorted_distinct_tokens(text_col, dialect), " ", dialect)
    return f"md5({joined})"


#: training-chunk geometry: CHUNK_TOKENS tokens per chunk, starts every
#: CHUNK_STRIDE tokens (CHUNK_TOKENS - CHUNK_STRIDE tokens of overlap so no
#: boundary context is lost). Requires CHUNK_STRIDE <= CHUNK_TOKENS.
CHUNK_TOKENS = 50
CHUNK_STRIDE = 40


def chunk_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Split documents into overlapping fixed-token training chunks:
    (doc_id, chunk_id, n_chunk_tokens, chunk_hash) — the pre-tokenization
    chunking step that feeds sequence packing.

    Chunk count per doc is pure integer math (1 + ceil(max(n - C, 0)/S),
    0 for empty docs) so Spark and the oracle can never disagree on
    geometry; chunk content is carried as an md5 hash, not the text, to
    keep the result narrow. Scale shape: one generate-and-posexplode over
    the scan — per-row work linear in document length, no shuffle, no
    Python; the output inherits the input partitioning. The token array
    is a bound projection column (the chunk slice lives inside a
    transform lambda — an inlined tokenizer there re-evaluates per chunk,
    see repetition_frame)."""
    docs = docs.withColumns({"__toks": F.expr(TXT.tokens(text_col, "spark"))})
    toks = "__toks"
    n = f"size({toks})"
    n_chunks = (
        f"case when {n} = 0 then 0 else "
        f"1 + cast(floor((greatest({n} - {CHUNK_TOKENS}, 0) + {CHUNK_STRIDE} - 1) "
        f"/ {CHUNK_STRIDE}) as int) end"
    )
    chunk = f"array_join(slice({toks}, 1 + k * {CHUNK_STRIDE}, {CHUNK_TOKENS}), ' ')"
    gen = (
        f"case when {n_chunks} = 0 then cast(array() as array<struct<chunk_id:int,"
        f"n_chunk_tokens:int,chunk_hash:string>>) else "
        f"transform(sequence(0, {n_chunks} - 1), k -> named_struct("
        f"'chunk_id', k, "
        f"'n_chunk_tokens', size(slice({toks}, 1 + k * {CHUNK_STRIDE}, {CHUNK_TOKENS})), "
        f"'chunk_hash', md5({chunk}))) end"
    )
    return docs.select(
        "doc_id", F.explode(F.expr(gen)).alias("__c")
    ).select(
        "doc_id",
        F.col("__c.chunk_id").alias("chunk_id"),
        F.col("__c.n_chunk_tokens").alias("n_chunk_tokens"),
        F.col("__c.chunk_hash").alias("chunk_hash"),
    )


def chunk_documents_sql(table: str = "documents", text_col: str = "text") -> str:
    """DuckDB twin of chunk_documents — identical integer geometry.

    Shape (round-9 huge-doc probe): the old form was a LATERAL
    ``unnest(range(0, n_chunks))`` that carried the bound token LIST into
    every chunk row and sliced it there — DuckDB copies the list per
    lateral row, so ONE 300k-token document turned the oracle quadratic
    (minutes for three documents). Now the list is consumed exactly once
    by ``unnest`` + ``generate_subscripts``, each token row computes its
    at-most-2 covering chunk ids arithmetically (stride 40 < width 50 →
    overlap ≤ 2), and per-chunk content re-assembles via an ordered
    ``string_agg`` — everything linear in document length. Bonus fix: on
    a NULL text the old lateral emitted a spurious
    (doc, 0, NULL, NULL) row where Spark's explode emits nothing; the
    explode-based form emits nothing in both engines.

    The re-assembly keys on a synthetic per-row id (``__rid``), NOT on
    doc_id: Spark's side is per-row (explode, no join), so a NULL or
    duplicated doc_id must not pool tokens across source rows here
    either — the r8 rule (never equi-join on a grouped-out nullable
    key) applied to an oracle."""
    n = "len(__toks)"
    n_chunks = (
        f"case when {n} = 0 then 0 else "
        f"1 + ((greatest({n} - {CHUNK_TOKENS}, 0) + {CHUNK_STRIDE} - 1) "
        f"// {CHUNK_STRIDE}) end"
    )
    return f"""
WITH b AS (
  SELECT doc_id, row_number() OVER () AS __rid,
         {TXT.tokens(text_col, 'duckdb')} AS __toks
  FROM {table}
),
meta AS (SELECT __rid, {n_chunks} AS n_chunks FROM b),
t AS (
  SELECT doc_id, __rid, unnest(__toks) AS tok,
         generate_subscripts(__toks, 1) AS pos
  FROM b
),
tk AS (
  SELECT t.doc_id, t.__rid, t.tok, t.pos, u2.k
  FROM t JOIN meta USING (__rid),
       unnest(range(
         CASE WHEN t.pos <= {CHUNK_TOKENS} THEN 0
              ELSE (t.pos - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE} END,
         least((t.pos - 1) // {CHUNK_STRIDE}, meta.n_chunks - 1) + 1
       )) AS u2(k)
)
SELECT any_value(doc_id) AS doc_id,
       k AS chunk_id,
       count(*) AS n_chunk_tokens,
       md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
FROM tk GROUP BY __rid, k
"""
