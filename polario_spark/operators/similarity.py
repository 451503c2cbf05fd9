"""Similarity search over embedding columns (array<float>).

Two strategies:

- ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
  set against the corpus, one scan, per-query window top-k. The baseline
  and the oracle-checkable path. At 100 TB the corpus side stays
  partitioned; the broadcast is queries only, so cost is
  O(|corpus| * |queries|) FLOPs with zero shuffle of the corpus.

- ``ngram_jaccard_pairs`` — exact pairwise Jaccard over token bigram
  sets via an inverted-index co-occurrence join blocked on cheap keys
  (lang); intersection sizes fall out of a count per pair, so no pair
  ever materializes both gram arrays. The exact complement to MinHash's
  approximate candidates.

All math is built-in higher-order functions — JVM-side, no Python.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from polario_spark.functions import text as TXT
from polario_spark.functions import vector as VEC
from polario_spark.plans.parallelism import ensure_parallelism


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Returns (qid, nid, sim) with sim rounded to 4 decimals; deterministic
    tie-break on neighbor id.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("qid"), F.col(vec_col).alias("__qvec")
        )
    )
    c = corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("__cvec"))
    sim = F.round(F.expr(VEC.cosine("__qvec", "__cvec", "spark")), 4).alias("sim")
    pairs = q.join(c, F.col("qid") != F.col("nid")).select("qid", "nid", sim)
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "sim", "rank")
    )


def brute_force_topk_sql(
    table: str, query_pred: str, id_col: str = "vec_id",
    vec_col: str = "embedding", k: int = 5,
) -> str:
    sim = VEC.cosine("q.__qvec", "c.__cvec", "duckdb")
    return f"""
WITH q AS (SELECT {id_col} AS qid, {vec_col} AS __qvec FROM {table} WHERE {query_pred}),
     c AS (SELECT {id_col} AS nid, {vec_col} AS __cvec FROM {table})
SELECT qid, nid, sim, rank FROM (
  SELECT qid, nid, round({sim}, 4) + 0.0 AS sim,
         row_number() OVER (PARTITION BY qid ORDER BY round({sim}, 4) DESC, nid ASC) AS rank
  FROM q JOIN c ON qid != nid
) WHERE rank <= {k}
"""


def _quantize_exprs(
    vec_col: str, dialect: str, width: str = "bigint"
) -> tuple[str, str]:
    """(scale expr over vec_col, int8 array expr over vec_col + bound
    ``__qscale``): symmetric per-vector int8 quantization q_i =
    round(x_i * 127 / max|x|). The scale column must be BOUND before the
    quantize transform (an inlined array_max inside the lambda would
    re-scan the vector per element — the HOF-inlining trap). ``width``
    picks the Spark storage type: ``bigint`` for in-flight math,
    ``tinyint`` for a materialized index where the 1-byte element IS the
    memory win (values are bounded in [-127, 127] by construction, so
    the ANSI cast cannot overflow)."""
    if dialect == "spark":
        scale = (
            f"greatest(array_max(transform({vec_col}, "
            f"x -> abs(cast(x as double)))), 1e-30d)"
        )
        quant = (
            f"transform({vec_col}, x -> cast(round(cast(x as double) "
            f"* 127 / __qscale) as {width}))"
        )
    else:
        scale = (
            f"greatest(list_max(list_transform(({vec_col})::DOUBLE[], "
            f"x -> abs(x))), 1e-30)"
        )
        quant = (
            f"list_transform(({vec_col})::DOUBLE[], "
            f"x -> round(x * 127 / __qscale)::BIGINT)"
        )
    return scale, quant


def _int_cosine(a: str, b: str, dialect: str) -> str:
    """Cosine over int8-quantized vectors: INTEGER dot products (exact in
    both engines — 64 dims x 127^2 is far below 2^53) with one sqrt and
    one divide as the only float ops, so Spark and DuckDB agree
    bit-for-bit at round(·, 4). The per-vector scales cancel out of the
    cosine, so they never enter the math."""
    if dialect == "spark":
        dot = lambda x, y: (  # noqa: E731
            f"aggregate(zip_with({x}, {y}, (p, q) -> p * q), 0L, (acc, v) -> acc + v)"
        )
    else:
        dot = lambda x, y: f"list_dot_product({x}, {y})"  # noqa: E731
    return (
        f"({dot(a, b)} / greatest(sqrt({dot(a, a)} * 1.0) "
        f"* sqrt({dot(b, b)} * 1.0), 1e-30))"
    )


def quantized_topk(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine search over int8-QUANTIZED vectors — the
    memory-scale path: 4x smaller vectors (int8 vs float32) mean 4x more
    corpus per executor and integer SIMD dot products, at a small recall
    cost vs float cosine (the quantization error). Same plan shape as
    brute_force_topk: queries broadcast, corpus stationary, per-query
    window top-k — zero corpus shuffle.

    Deterministic cross-engine: the quantized cosine reduces to integer
    dot products (scales cancel), so the only float ops are one sqrt and
    one divide.
    """
    corpus = ensure_parallelism(corpus)
    scale, quant = _quantize_exprs(vec_col, "spark")
    quantized = corpus.withColumns({"__qscale": F.expr(scale)}).withColumns(
        {"__qv": F.expr(quant)}
    )
    q = F.broadcast(
        quantized.filter(F.col(id_col) % IVF_QUERY_STRIDE == 0).select(
            F.col(id_col).alias("qid"), F.col("__qv").alias("__qa")
        )
    )
    c = quantized.select(F.col(id_col).alias("nid"), F.col("__qv").alias("__qb"))
    sim = F.round(F.expr(_int_cosine("__qa", "__qb", "spark")), 4).alias("sim")
    pairs = q.join(c, F.col("qid") != F.col("nid")).select("qid", "nid", sim)
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "sim", "rank")
    )


def quantized_topk_sql(
    table: str, id_col: str = "vec_id", vec_col: str = "embedding", k: int = 5
) -> str:
    scale, quant = _quantize_exprs(vec_col, "duckdb")
    sim = _int_cosine("q.__qa", "c.__qb", "duckdb")
    return f"""
WITH s AS (SELECT {id_col}, {vec_col}, {scale} AS __qscale FROM {table}),
v AS (SELECT {id_col}, {quant} AS __qv FROM s),
q AS (SELECT {id_col} AS qid, __qv AS __qa FROM v WHERE {id_col} % {IVF_QUERY_STRIDE} = 0),
c AS (SELECT {id_col} AS nid, __qv AS __qb FROM v)
SELECT qid, nid, sim, rank FROM (
  SELECT qid, nid, round({sim}, 4) + 0.0 AS sim,
         row_number() OVER (PARTITION BY qid ORDER BY round({sim}, 4) DESC, nid ASC) AS rank
  FROM q JOIN c ON qid != nid
) WHERE rank <= {k}
"""


#: Largest within-block document frequency a gram may have and still
#: participate in the Jaccard join. Grams over the cap (boilerplate
#: n-grams shared by huge document clusters) are cut from BOTH the
#: intersection and the set sizes — the operator computes exact Jaccard
#: over the df<=cap gram vocabulary. This is the standard set-similarity
#: df/stopword prune (the crude form of Bayardo et al.'s prefix filter):
#: an over-cap gram contributes df^2 join rows while carrying no
#: discriminative signal. sf0.1 measures max within-lang bigram df = 152,
#: so the default never trips on organic test data.
NGRAM_DF_CAP = 512

#: Auto-dispatch bound for ngram_jaccard_pairs' candidate generator: at or
#: under this many docs the full inverted-index join runs (it wins on
#: organic small corpora — no census join / rank window / gram-set
#: collect); above it the Bayardo prefix filter runs. The hump the full
#: join suffers — Sum(df^2) wherever a Zipf gram cohort rides just under
#: the df cap — is a property of the DF DISTRIBUTION, not of corpus size
#: (round-10 re-measurement, same session, 2 reps each: 5k docs full 3.9 s
#: vs prefix 7.2 s; 50k docs full 74-111 s vs prefix 33-62 s; 150k docs
#: full 4.2 s vs prefix 5.9 s; 500k docs full 13.5 s vs prefix 17 s), so
#: no cheap signal can route each corpus to its per-corpus winner — but
#: the LOSSES are asymmetric: mis-routing to prefix costs a bounded
#: <=1.4x (its cost tracks prefix-df), while mis-routing to full costs
#: 2-8x whenever growth re-creates the near-cap cohort, which it does at
#: unpredictable decades. Above the bound the dispatch therefore takes
#: the worst-case-bounded plan; the bound sits just above the largest
#: corpus where the hump cannot yet materialize (cap * a few docs). The
#: gram-df census itself would be the exact signal, but computing it
#: costs the dominant tokenize+explode scan twice — measured as the
#: postings-checkpoint experiment SCALE.md records as WORSE. Dispatch
#: never changes results: the two paths are output-identical.
NGRAM_PREFIX_AUTO_ROWS = 20_000


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("lang",),
    threshold: float = 0.6,
    df_cap: int = NGRAM_DF_CAP,
    prefix_filter: Optional[bool] = None,
    n_docs: Optional[int] = None,
) -> DataFrame:
    """Exact Jaccard over word-bigram sets for within-block pairs, as an
    inverted-index set-similarity join.

    Returns (id_a, id_b, jaccard) for pairs >= threshold. Jaccard is
    computed over the df<=``df_cap`` gram vocabulary (see NGRAM_DF_CAP):
    over-cap boilerplate grams are cut from intersection AND set sizes,
    identically in the oracle. Documents consisting ONLY of over-cap
    grams (a pure boilerplate cluster) emit no pairs here — full-document
    duplicates are exact/fingerprint dedup's job, not a similarity
    join's.

    Plan shape: inverted-index co-occurrence join. Explode each doc's
    distinct grams into postings, census per-gram df with a window on the
    SAME (block, gram) key the join shuffles on, drop over-cap grams,
    re-census per-doc set sizes, then self-equi-join so |A ∩ B| falls out
    of a count per pair — no per-pair array re-materialization or
    array_intersect, the whole pipeline is int columns through
    whole-stage codegen. |A ∪ B| = |A| + |B| - |A ∩ B|. Pairs sharing
    zero surviving grams have jaccard 0 < threshold, so never producing
    them is exact pruning, not approximation.

    Two further prunings, both exact:
    - gram keys are xxhash64(gram) — 8-byte join keys instead of strings
      (collision odds ~ vocab^2 / 2^64, vanishing for any real corpus);
    - length-ratio filter inside the join condition: J >= t forces
      min(|A|,|B|) >= t * max(|A|,|B|) (+1e-9 guards binary-float t*n,
      e.g. 0.6*5 -> 3.0000000000000004, from over-pruning).

    Scale: shuffle volume is postings (linear in corpus); the df cap
    bounds join output at sum over (block, gram) of min(df, cap)^2, so a
    boilerplate cluster of m docs costs O(m) postings instead of O(m^2)
    pairs. The block key is the residual skew lever — callers should
    block on (lang, length-bucket, shard) for open-domain corpora; AQE's
    skew-join handles residual hot grams under the cap.

    ``prefix_filter=True`` switches candidate generation to Bayardo et
    al.'s prefix filter (WWW'07): only each doc's p = n - ceil(t*n) + 1
    RAREST grams (global per-block (df, gram) order) are indexed, so
    mid/high-frequency grams — the Sum(df^2) drivers — leave the join
    entirely, and candidates are verified with an exact
    array_intersect over per-doc gram-set arrays. Output is IDENTICAL
    (pinned by test_skew_adversaries' equivalence suite): the filter is
    lossless for J >= t, and prefix sizing slackens t by 1e-4 so pairs
    whose jaccard ROUNDS up to t at 4 decimals still surface. Measured
    crossover (round-10 re-measurement, one session, 2 reps each; the
    probe corpora are x10/x30/x100 replications of sf0.1's 5k docs): on
    the organic sf0.1 corpus (5k docs) the full join wins (3.9 s vs
    7.2 s — the prefix path pays a census join, a rank window, and a
    gram-set collect); on the 50k-doc x10 corpus, where a fresh Zipf
    gram cohort sits just UNDER the df cap (the full join's worst regime
    — Sum(df^2) with df in the hundreds), the prefix path wins 2.2x
    (33 s vs 74 s warm; round 9 measured the same regime at 37 s vs
    97 s); at 150k/500k docs the cohort has crossed the cap and the
    full join narrowly wins again (4.2 vs 5.9 s, 13.5 vs 17 s).

    ``prefix_filter=None`` (the default, round 10) AUTO-DISPATCHES on
    corpus size: corpora over ``NGRAM_PREFIX_AUTO_ROWS`` rows take the
    prefix path, smaller ones the full join (round-9 verdict
    What's-wrong #1: the scale default must be the plan that survives
    the df-cap hump, with no flag the user must know about). The hump
    is a df-distribution property, so a size signal cannot pick the
    per-corpus winner — see NGRAM_PREFIX_AUTO_ROWS for why the bounded
    asymmetry (prefix <=1.4x worse where full wins; full 2-8x worse in
    the hump regime, which recurs at unpredictable growth decades)
    makes prefix the right default above the bound anyway. The signal
    is one count-star job — pushdown-cheap ONLY for scan-backed frames
    (parquet footer counts); when ``docs`` is a derived plan (joins,
    UDFs upstream) the count re-executes that whole plan once, so such
    callers should pass ``n_docs`` (a known/estimated row count) or an
    explicit ``prefix_filter`` to skip the probe job entirely. Both
    paths are output-identical (equivalence-pinned in
    tests/test_skew_adversaries.py), so dispatch changes only the plan,
    never the result.
    """
    if prefix_filter is None:
        prefix_filter = (
            n_docs if n_docs is not None else docs.count()
        ) > NGRAM_PREFIX_AUTO_ROWS
    docs = ensure_parallelism(docs)
    grams = F.expr(
        f"array_distinct({TXT.word_bigrams(TXT.tokens(text_col, 'spark'), 'spark')})"
    )
    base = docs.select(
        F.col(id_col), *[F.col(c) for c in block_cols], grams.alias("__grams")
    )
    # tokenize + bigram + explode feeds four branches (hot census, the
    # per-doc recount, and both self-join sides), but needs NO
    # materialization barrier: every branch consumes the postings through
    # the same canonical (block, g) exchange, and AQE's exchange reuse
    # runs the scan+tokenize map stage once for all of them. A
    # localCheckpoint here was tried and REMOVED — measured 3.4 s vs
    # 3.2 s warm at sf0.1 (the checkpoint only added an RDD materialize),
    # and at scale it would pin the full posting stream on executor
    # storage that exchange files already provide for free.
    exploded = base.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.explode(F.expr("transform(__grams, g -> xxhash64(g))")).alias("__g"),
    )
    # over-cap grams as an AGGREGATE census (map-side combinable, the
    # shuffle carries distinct-gram partials, never full postings), then
    # a left_anti join — the hot frame holds at most |postings|/cap rows
    # and for natural-language df distributions is tiny, so AQE turns
    # this into a broadcast anti-join and the postings never shuffle for
    # the cut. eqNullSafe on the block keys: a NULL block is one census
    # group (as in the oracle's window PARTITION BY), not a never-matches
    # key.
    # hot's keys are RENAMED before the join: ``hot`` derives from
    # ``exploded``, so ``exploded[c] == hot[c]`` carries the same
    # attribute id on both sides and only works through Spark's
    # trivially-true-self-join disambiguation heuristic (it warned on
    # every run); distinct names make the condition unambiguous by
    # construction.
    hot = (
        exploded.groupBy(*block_cols, "__g")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > df_cap)
        .select(
            *[F.col(c).alias(f"__hot_{c}") for c in block_cols],
            F.col("__g").alias("__hot_g"),
        )
    )
    anti_cond = [
        F.col(c).eqNullSafe(F.col(f"__hot_{c}")) for c in block_cols
    ] + [F.col("__g") == F.col("__hot_g")]
    rare = exploded.join(hot, anti_cond, "left_anti")
    # Two duplicate-id guards (round-9 dup-id probe — a re-crawled corpus
    # re-emits an id with a different payload): postings collapse to ONE
    # row per (id, block, gram) so two same-(id, block) rows merge into
    # one gram SET (the oracle's list(DISTINCT ...) twin), and sizes key
    # on (id, block), NOT id alone — an id re-ingested under another
    # block must not inflate this block's |A|. The collapse keeps every
    # downstream aggregate a plain map-side-combinable count (a
    # countDistinct at the PAIR level instead was 3-6x slower — per-pair
    # hash sets over the join output), and it rides the (block, gram)
    # exchange the self-join needs anyway: HashPartitioning(block, g)
    # satisfies the distinct's ClusteredDistribution(id, block, g)
    # (subset rule), so dropDuplicates after the explicit repartition
    # plans with NO additional shuffle.
    # (A localCheckpoint here was tried and measured WORSE — 6.6 s vs
    # 3.6 s warm at sf0.1: materializing the deduped postings blocks
    # AQE's exchange reuse across the three consuming branches, which
    # already dedups the identical REPARTITION_BY_COL subtrees.)
    # The partition COUNT is pinned to the configured shuffle width.
    # Without it AQE coalesces this exchange by its INPUT bytes (a few MB
    # of postings at bench scale -> 5 partitions), but the self-join
    # CONSUMING the exchange fans out ~Sum(min(df,cap)^2) rows — ~100x
    # the input — so the most expensive stage of the pipeline ran on a
    # handful of tasks. Input-byte statistics cannot see a join's output
    # amplification; ``spark.sql.shuffle.partitions`` is the cluster-sized
    # dial (AQE still splits skewed partitions within it). Interleaved
    # A/B at sf0.1: 2.47 -> 1.72 s; on a 32-core host, 4 interleaved
    # pin/no-pin pairs gave a min of 4.41 s pinned vs 11.34 s unpinned
    # (pinned faster in 3 of 4 pairs), identical rows. A platform whose
    # shuffle.partitions reads back non-numeric (e.g. "auto") falls back
    # to defaultParallelism.
    try:
        width = int(rare.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        width = rare.sparkSession.sparkContext.defaultParallelism
    rare = rare.repartition(width, *block_cols, "__g")
    rare = rare.dropDuplicates([id_col, *block_cols, "__g"])
    # set sizes are re-counted AFTER the df cut so |A|, |B|, and |A ∩ B|
    # all live in the same (capped) vocabulary — Jaccard stays exact.
    # Again an aggregate (one row per doc) joined back, not a window over
    # the postings.
    if not prefix_filter:
        n_per_doc = rare.groupBy(id_col, *block_cols).agg(
            F.count(F.lit(1)).alias("__n")
        )
        postings = rare.join(n_per_doc, [id_col, *block_cols])
        # full inverted-index join: every surviving posting participates.
        # Kept as the reference candidate generator for the equivalence
        # test pinning the prefix path (and for callers that want the
        # simplest plan on small corpora).
        a, b = postings.alias("a"), postings.alias("b")
        cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols] + [
            F.col("a.__g") == F.col("b.__g"),
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            F.least(F.col("a.__n"), F.col("b.__n")) + F.lit(1e-9)
            >= F.lit(threshold) * F.greatest(F.col("a.__n"), F.col("b.__n")),
        ]
        # the pair group includes the block keys: a duplicate id
        # re-ingested under a second block can make the same (id_a, id_b)
        # co-occur in two blocks, and the oracle's per-block join emits
        # one row per (pair, block) — pooling them would mix the two
        # blocks' vocabularies
        co = (
            a.join(b, cond)
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                *[F.col(f"a.{c}") for c in block_cols],
                F.col("a.__n").alias("__na"),
                F.col("b.__n").alias("__nb"),
            )
            .agg(F.count(F.lit(1)).alias("__inter"))
        )
        jac = F.round(
            F.col("__inter").cast("double")
            / (F.col("__na") + F.col("__nb") - F.col("__inter")).cast("double"),
            4,
        ).alias("jaccard")
        return co.select("id_a", "id_b", jac).filter(
            F.col("jaccard") >= threshold
        )

    # ---- prefix-filtered candidate generation (Bayardo et al., WWW'07:
    # "Scaling Up All Pairs Similarity Search") -------------------------
    # Only each doc's p = n - ceil(t*n) + 1 RAREST grams (global
    # (df, gram) order per block) are indexed for the candidate join.
    # Exactness: J(A,B) >= t forces an overlap o >= ceil(t*max(|A|,|B|)),
    # and the o-smallest shared gram must sit within the first
    # |x| - o + 1 <= p grams of BOTH docs, so every qualifying pair
    # shares a prefix gram. Mid/high-frequency grams — the Sum(df^2)
    # drivers — sort to the suffixes and leave the join entirely: in
    # the full join's worst regime (a Zipf gram cohort sitting just
    # UNDER the df cap — the 50k-doc x10 probe corpus) the full join
    # measures 74-111 s where this path takes 33-62 s (round-10
    # re-measurement; round 9 measured the same regime at 97 s vs
    # 37 s), because cost follows prefix-df, not raw df — see the
    # docstring's crossover table and SCALE.md "ngram-jaccard
    # dispatch (round 10)". Output is IDENTICAL to the full join:
    # candidates are a
    # superset of qualifying pairs, each verified with the exact
    # intersection count below, and the threshold is slackened by 1e-4
    # during prefix sizing so pairs whose jaccard ROUNDS up to t at 4
    # decimals still surface.
    # Consumer budget: ``rare`` feeds exactly THREE subtrees — the df
    # census (an aggregate over the (block, g) partitioning rare already
    # has, so no extra exchange), the ranked-prefix window, and the
    # per-doc gram-set collect for verification. Set sizes come from a
    # count() OVER the SAME (id, block) window partition the rank uses —
    # no n_per_doc join on this path.
    census = rare.groupBy(*block_cols, "__g").agg(
        F.count(F.lit(1)).alias("__df")
    )
    w_doc = Window.partitionBy(id_col, *block_cols)
    w_rank = w_doc.orderBy(F.col("__df").asc(), F.col("__g").asc())
    # -1e-9 inside ceil: binary-float t*n overshoot (0.6*5 ->
    # 3.0000000000000004) must not shorten the prefix; undershoot only
    # lengthens it — errors are one-sided safe.
    t_eff = threshold - 1e-4
    plen = F.col("__n") - F.ceil(
        F.lit(t_eff) * F.col("__n") - F.lit(1e-9)
    ) + 1
    pref = (
        rare.join(census, [*block_cols, "__g"])
        .withColumn("__n", F.count(F.lit(1)).over(w_doc))
        .withColumn("__rn", F.row_number().over(w_rank))
        .filter(F.col("__rn") <= plen)
    )
    pa, pb = pref.alias("pa"), pref.alias("pb")
    cand_cond = [F.col(f"pa.{c}") == F.col(f"pb.{c}") for c in block_cols] + [
        F.col("pa.__g") == F.col("pb.__g"),
        F.col(f"pa.{id_col}") < F.col(f"pb.{id_col}"),
        F.least(F.col("pa.__n"), F.col("pb.__n")) + F.lit(1e-9)
        >= F.lit(threshold) * F.greatest(F.col("pa.__n"), F.col("pb.__n")),
    ]
    cand = (
        pa.join(pb, cand_cond)
        .select(
            F.col(f"pa.{id_col}").alias("__ida"),
            F.col(f"pb.{id_col}").alias("__idb"),
            *[F.col(f"pa.{c}").alias(f"__blk_{c}") for c in block_cols],
        )
        .dropDuplicates(["__ida", "__idb", *[f"__blk_{c}" for c in block_cols]])
    )
    # exact verify: one (id, block)-keyed gram-set frame (a row per doc,
    # sorted hash array — bounded by the doc's distinct grams), joined to
    # each side of the candidate pair; |A ∩ B| = size(array_intersect)
    # over int64 hashes, |A|/|B| = the array sizes. Block keys use plain
    # equality end-to-end, matching the full join (and the oracle):
    # NULL-block docs never pair.
    gramsets = rare.groupBy(id_col, *block_cols).agg(
        F.sort_array(F.collect_list("__g")).alias("__gs")
    )
    gs_a = gramsets.select(
        F.col(id_col).alias("__ida"),
        *[F.col(c).alias(f"__blk_{c}") for c in block_cols],
        F.col("__gs").alias("__gsa"),
    )
    gs_b = gramsets.select(
        F.col(id_col).alias("__idb"),
        *[F.col(c).alias(f"__blk_{c}") for c in block_cols],
        F.col("__gs").alias("__gsb"),
    )
    scored = (
        cand.join(gs_a, ["__ida", *[f"__blk_{c}" for c in block_cols]])
        .join(gs_b, ["__idb", *[f"__blk_{c}" for c in block_cols]])
        .select(
            F.col("__ida").alias("id_a"),
            F.col("__idb").alias("id_b"),
            F.size(F.array_intersect("__gsa", "__gsb")).alias("__inter"),
            F.size("__gsa").alias("__na"),
            F.size("__gsb").alias("__nb"),
        )
    )
    jac = F.round(
        F.col("__inter").cast("double")
        / (F.col("__na") + F.col("__nb") - F.col("__inter")).cast("double"),
        4,
    ).alias("jaccard")
    return scored.select("id_a", "id_b", jac).filter(
        F.col("jaccard") >= threshold
    )


def ngram_jaccard_pairs_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("lang",),
    threshold: float = 0.6,
    df_cap: int = NGRAM_DF_CAP,
) -> str:
    """Oracle twin of :func:`ngram_jaccard_pairs`, including the
    within-block gram df cut — grams with df > cap leave the vocabulary
    in BOTH engines before intersection/union are measured."""
    grams = f"list_distinct({TXT.word_bigrams(TXT.tokens(text_col, 'duckdb'), 'duckdb')})"
    blocks = ", ".join(block_cols)
    cond = " AND ".join(f"a.{c} = b.{c}" for c in block_cols)
    return f"""
WITH g0 AS (SELECT {id_col}, {blocks}, unnest({grams}) AS __gram FROM {table}),
gd AS (
  SELECT *, count(*) OVER (PARTITION BY {blocks}, __gram) AS __df FROM g0
),
g AS (
  -- DISTINCT: two re-ingested rows under the same (id, block) merge
  -- into one gram SET, the countDistinct twin of the Spark side
  SELECT {id_col}, {blocks}, list(DISTINCT __gram) AS __grams
  FROM gd WHERE __df <= {df_cap}
  GROUP BY {id_col}, {blocks}
)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
         round(len(list_intersect(a.__grams, b.__grams))::DOUBLE
               / len(list_distinct(list_concat(a.__grams, b.__grams)))::DOUBLE, 4) AS jaccard
  FROM g a JOIN g b ON {cond} AND a.{id_col} < b.{id_col}
) WHERE jaccard >= {threshold}
"""


#: vectors per GEMM tile in cosine_pairs. Tile memory is
#: COSINE_TILE x dim doubles (~0.5 MB at dim=64); a tile-pair task holds
#: two tiles plus their COSINE_TILE^2 similarity block (~8 MB) — sized so
#: tasks stay cache-friendly and well under executor memory at any scale.
COSINE_TILE = 1024

#: Largest well-formed |component|. Finite-but-huge components (float32
#: tops out at ~3.4e38, which ``isfinite`` happily admits) make every
#: downstream double aggregate ORDER-SENSITIVE at the digits the driver
#: hashes: a dot/norm near 1e38 carries ulp ~2e22, so Spark's fold,
#: numpy's blocked GEMM sum, and DuckDB's list_dot_product loop each
#: land on a different last few ulps — and round(·, 4) of a 39-digit
#: number preserves ALL of them (round-9 huge-magnitude probe: avg/min/
#: max columns of embedding_norm_stats / zipwith_consecutive_dot /
#: embedding_dim_stats all diverged cross-engine). Determinism at
#: round(,4) needs the cross-order error n*ulp(64*c^2) < 5e-5, i.e.
#: c < ~7e3 at dim 64; 1e3 keeps 50x margin. Real embedding components
#: are O(1) (clean testdata max |x| = 0.58), so anything near the cap is
#: float32 garbage from a corrupt row — shed it like NaN/Inf, with the
#: identical predicate in the oracle.
VEC_COMPONENT_CAP = "1e3"


def well_formed_vectors(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Drop rows whose vector is NULL, not exactly ``dim`` long, or
    contains any NULL / NaN / infinite / over-``VEC_COMPONENT_CAP``
    component.

    Real corpora carry corrupt rows (truncated arrays, nulls from failed
    embedding jobs). The GEMM paths ``np.stack`` a group's vectors into
    one matrix — ONE ragged row in a 100 TB corpus would kill the whole
    job with 'all input arrays must have the same shape', and the LSH
    signature expressions index vector elements directly (out-of-bounds
    on short arrays). Component-level corruption is just as real
    (round-8 vector-adversary probe): a NaN component makes the cosine
    NaN, which Spark's ``>= threshold`` rejects but DuckDB's total order
    ACCEPTS (NaN sorts above every real) — a silent cross-engine
    divergence — and the int8 quantizer's NaN->BIGINT cast kills the
    job under ANSI. Finite-but-huge components are corruption too — they
    push double aggregates into order-sensitive territory (see
    ``VEC_COMPONENT_CAP``). A malformed vector cannot participate in any
    similarity comparison anyway, so the operators exclude them with
    this codegen filter at the scan (pushdown-friendly, no Python);
    ``well_formed_sql`` is the oracle's identical predicate.
    """
    return df.filter(
        F.col(vec_col).isNotNull()
        & (F.size(F.col(vec_col)) == dim)
        & F.expr(
            f"forall({vec_col}, x -> x is not null and not isnan(x) "
            f"and abs(x) <= {VEC_COMPONENT_CAP})"
        )
    )


def well_formed_sql(vec_col: str, dim: int) -> str:
    """DuckDB twin of :func:`well_formed_vectors` as a WHERE predicate.

    Must stay extensionally identical to the Spark filter: entries embed
    it in their oracles (directly or as a filtered-subquery table arg)
    so both engines see exactly the same corpus after shedding corrupt
    vectors. ``isfinite`` is false for both NaN and ±Inf in DuckDB; the
    magnitude clause compares float32 components upcast exactly to
    double on both sides, so the cap splits identically.
    """
    return (
        f"{vec_col} IS NOT NULL AND len({vec_col}) = {dim} AND "
        f"len(list_filter({vec_col}, "
        f"x -> x IS NULL OR NOT isfinite(x) OR abs(x) > {VEC_COMPONENT_CAP})) = 0"
    )


#: float32-screen margin for the tiled pair verifies: a conservative
#: bound on |cos32 - cos64| (~dim * 2^-24 ≈ 4e-6 at dim 64, from the
#: float32 cast + sgemm accumulation of unit-scale cosines) plus the
#: 4-decimal rounding window (5e-5), with ~20x slack on top. Any pair
#: whose float64 cosine could round to >= threshold clears
#: threshold - margin in float32 by construction.
SCREEN_MARGIN = 1e-3

#: Below this threshold the screen would keep nearly everything and the
#: per-pair float64 re-score (elementwise, ~3x slower per FLOP than
#: dgemm) would dominate — fall back to the plain float64 GEMM there.
SCREEN_MIN_THRESHOLD = 0.05

#: Id-range width of the SHIPPED pair-space unit for the tile/block
#: self-joins (cosine_pairs tiles, SemDeDup cell blocks). The join
#: duplicates each unit once per partner unit, so shuffle volume is
#: ~ group_size / SHIP_TILE copies of the group — at the x100 probe
#: point the former COSINE_TILE-sized shipping put ~35 GB through the
#: verify exchange (measured as the stage's dominant cost; the GEMM
#: itself is ~3 s of sgemm). Shipping 8x wider cuts the duplication
#: factor 8x while the GEMM inside each task still runs in
#: COSINE_TILE-sized sub-tiles, so per-task memory stays two shipped
#: units (2 x SHIP_TILE x dim doubles, ~8 MB at dim 64) plus one
#: COSINE_TILE^2 float32 screen matrix (~4 MB) — never SHIP_TILE^2.
COSINE_SHIP_TILE = 8192


#: Screen-survivor fraction above which a tile re-scores as ONE full
#: float64 GEMM with matrix reductions instead of a survivor gather.
#: On a dup-heavy tile (a 300-strong near-identical group — exactly what
#: a crawl corpus's boilerplate produces) EVERY pair clears the screen,
#: and the gather path materializes |survivors| x dim float64 rows
#: (~17 GB per fully-dense COSINE_SHIP_TILE block pair) plus one pandas
#: pair row per survivor; the dgemm path's cost is the tile's flops with
#: BLAS efficiency and zero gather. 1/8 is conservative: the dgemm costs
#: ~2x the already-paid float32 screen, so switching at 12.5% density
#: can waste at most that constant while capping the gather at
#: tile_area/8 rows.
DENSE_TILE_FRACTION = 0.125


def _make_vector_kernels():
    """The worker-side numpy steps of the vector kernels, each written
    once: block and per-row decode, the clamped norm, the cosine matrix,
    the blocked argmax, the running top-k merge, the float32 screen, the
    sub-tile walk and the two tile kernels built on them. Every
    mapInPandas kernel in this module calls them through ``_VK``.

    A factory on purpose: the kernels are mapInPandas closures, and a
    plain module-level function would cloudpickle BY REFERENCE —
    requiring every Python worker to import ``polario_spark``, which
    only holds when the driver's sys.path happens to reach the workers.
    Factory-made functions pickle BY VALUE (their qualnames are not
    importable), so a closure that reads ``_VK`` carries the whole set.
    The screen constants are module globals, captured when the closure
    is pickled; tile and block widths are arguments, read by the plan
    builder, so a patched ``COSINE_TILE`` / ``ASSIGN_CENT_BLOCK``
    reaches the workers.
    """
    from types import SimpleNamespace

    def norms(mat):
        """Row norms clamped at 1e-12: a zero vector scores cosine 0
        against everything (never pairs, never wins an argmax by NaN)."""
        import numpy as np

        return np.maximum(np.sqrt((mat * mat).sum(axis=1)), 1e-12)

    def decode(ids_raw, flat_raw):
        """``(ids, (n, d) float64 matrix, norms)`` of one shipped block
        (flat ids + row-major flattened vectors). A 0-dim corpus
        degenerates to (n, 0): dots are 0 -> cosine 0 under the norm
        clamp (never pairs). Callers that screen make the float32 copy
        themselves."""
        import numpy as np

        ids = np.asarray(ids_raw, np.int64)
        flat = np.asarray(flat_raw, np.float64)
        mat = flat.reshape(len(ids), -1) if flat.size else np.zeros((len(ids), 0))
        return ids, mat, norms(mat)

    def stack(col, label):
        """(n, d) float64 matrix of a pandas column of per-row vectors.
        A ragged row or a NaN/Inf component raises a ValueError naming
        ``label``: a non-finite sim makes every ``>`` comparison False
        for its row, so the kernel would emit garbage instead of
        failing."""
        import numpy as np

        try:
            mat = np.stack(col.to_numpy()).astype(np.float64, copy=False)
        except ValueError as exc:
            raise ValueError(
                f"malformed vector in {label} (wrong length) — shed with "
                f"well_formed_vectors(dim=...)"
            ) from exc
        if not np.isfinite(mat).all():
            raise ValueError(
                f"non-finite vector component in {label} — shed with "
                f"well_formed_vectors(dim=...)"
            )
        return mat

    def cosine(a, na, b, nb):
        """Cosine matrix ``(a . b) / (|a| |b|)`` of row sets a (..., m, d)
        and b (..., n, d) given their clamped norms; leading stack axes
        broadcast (batched GEMM). For 2-D inputs this is bitwise
        ``(a @ b.T) / np.outer(na, nb)``."""
        import numpy as np

        return (a @ np.swapaxes(b, -1, -2)) / (na[..., :, None] * nb[..., None, :])

    def argmax(mat, nm, c_mat, c_nm, block):
        """Index of each row's nearest centroid (max cosine), over
        ``block``-wide centroid slices so memory stays rows x block.
        Bitwise-tied sims resolve to the smallest index: np.argmax keeps
        the first max within a block and the cross-block update is
        strict >. Centroid rows are cid-ascending (``_centroid_triplet``),
        so that is the smallest cid. With finite inputs every row is
        updated by the first block; the 0 start only rules out
        uninitialized memory."""
        import numpy as np

        best_sim = np.full(len(mat), -np.inf)
        best = np.zeros(len(mat), np.int64)
        rows = np.arange(len(mat))
        for c0 in range(0, len(c_mat), block):
            sims = cosine(mat, nm, c_mat[c0 : c0 + block], c_nm[c0 : c0 + block])
            arg = np.argmax(sims, axis=1)
            s = sims[rows, arg]
            upd = s > best_sim
            best_sim[upd] = s[upd]
            best[upd] = c0 + arg[upd]
        return best

    def topk(run_s, run_i, sims, ids, k):
        """Merge one candidate block into a running per-row top-k under
        (sim DESC, id ASC). ``sims`` columns ascend in ``ids``, so the
        stable descending argsort keeps bitwise ties id-ascending; the
        merge then sorts id-ascending first and stable sim-descending
        second — the comparator the final window and the oracles use, so
        the union of partial top-ks holds the exact global top-k."""
        import numpy as np

        idx = np.argsort(-sims, axis=1, kind="stable")[:, :k]
        s = np.concatenate([run_s, np.take_along_axis(sims, idx, axis=1)], axis=1)
        i = np.concatenate([run_i, ids[idx]], axis=1)
        o1 = np.argsort(i, axis=1, kind="stable")
        s = np.take_along_axis(s, o1, axis=1)
        i = np.take_along_axis(i, o1, axis=1)
        o2 = np.argsort(-s, axis=1, kind="stable")[:, :k]
        return np.take_along_axis(s, o2, axis=1), np.take_along_axis(i, o2, axis=1)

    def screen(a, na, b, nb, thr, a32, b32):
        """The float32 screen of a tile: ``None`` when the tile must be
        scored densely in float64, else the survivors ``(ia, ib, sim)``
        with ``sim = round(cosine_float64, 4) >= thr``.

        The full pair matrix is computed ONCE in float32 (half the GEMM
        cost and memory of float64, no full-matrix round pass), every
        pair clearing ``thr - SCREEN_MARGIN`` is re-scored from the
        float64 inputs, and only those survivors are thresholded. At
        the thresholds the operators use (0.35+) random-geometry
        survivors are a sub-percent slice, so the re-score is
        O(survivors x dim), never a second full GEMM. The margin
        dominates the float32 error bound ~20x, so no qualifying
        pair is lost, and the dense path (every pair in float64)
        selects exactly the same pairs. Dense means ``thr`` under
        SCREEN_MIN_THRESHOLD (the screen would keep nearly everything)
        or a dup-heavy tile past DENSE_TILE_FRACTION (the gather would
        materialize |survivors| x dim float64 rows). The choice is a
        pure function of the tile's bytes.

        The re-score sums elementwise products (numpy pairwise
        summation) where the dense path reads a dgemm cell: a ~1 ulp
        summation-order difference of exactly the class the 4-decimal
        round already absorbs between Spark and the DuckDB oracle's own
        fold order; the values are otherwise the same float64 arithmetic
        on the same bytes.
        """
        import numpy as np

        if thr < SCREEN_MIN_THRESHOLD:
            return None
        scr = cosine(a32, na.astype(np.float32), b32, nb.astype(np.float32))
        cand = scr >= np.float32(thr - SCREEN_MARGIN)
        ncand = int(cand.sum())
        if ncand == 0:
            return np.empty(0, np.intp), np.empty(0, np.intp), np.empty(0)
        if ncand >= DENSE_TILE_FRACTION * cand.size:
            return None
        ia, ib = np.nonzero(cand)
        sim = np.round((a[ia] * b[ib]).sum(axis=1) / (na[ia] * nb[ib]), 4)
        m = sim >= thr
        return ia[m], ib[m], sim[m]

    def screened(a, na, b, nb, thr, a32, b32):
        """All pairs with ``round(cosine_float64, 4) >= thr`` as
        ``(ia, ib, sim)`` index arrays into the given blocks: the
        ``screen`` survivors, or one float64 GEMM plus a direct nonzero
        on a dense tile."""
        import numpy as np

        hit = screen(a, na, b, nb, thr, a32, b32)
        if hit is not None:
            return hit
        sim = np.round(cosine(a, na, b, nb), 4)
        ia, ib = np.nonzero(sim >= thr)
        return ia, ib, sim[ia, ib]

    def reduce_tile(a, na, b, nb, thr, a32, b32, ids_a, ids_b, cnt, msim, joff):
        """Fold a tile's qualifying pairs into per-column (id_b)
        partials instead of returning them: ``cnt[joff + j] += |{i :
        round(sim, 4) >= thr and ids_a[i] < ids_b[j]}|`` and
        ``msim[joff + j] = max(...)``. Same pair set as ``screened``; a
        dense tile reduces the float64 matrix directly, so it never
        builds pair arrays."""
        import numpy as np

        hit = screen(a, na, b, nb, thr, a32, b32)
        if hit is None:
            sim = np.round(cosine(a, na, b, nb), 4)
            mask = (sim >= thr) & (ids_a[:, None] < ids_b[None, :])
            c = mask.sum(axis=0)
            upd = c > 0
            if upd.any():
                m = np.where(mask, sim, -np.inf).max(axis=0)
                cv = cnt[joff : joff + len(ids_b)]
                mv = msim[joff : joff + len(ids_b)]
                cv[upd] += c[upd]
                mv[upd] = np.maximum(mv[upd], m[upd])
            return
        ia, ib, sim = hit
        keep = ids_a[ia] < ids_b[ib]
        if keep.any():
            ibk = ib[keep] + joff
            np.add.at(cnt, ibk, 1)
            np.maximum.at(msim, ibk, sim[keep])

    def tiles(n_a, n_b, tile, same):
        """``(slice_a, slice_b)`` sub-tiles covering an n_a x n_b block
        pair, so a screen matrix is bounded at tile^2 however wide the
        shipped unit is. On a diagonal pair (``same``: one id-sorted
        unit on both sides) only the upper sub-triangle: a sub-diagonal
        sub-tile cannot contain id_a < id_b."""
        for i0 in range(0, n_a, tile):
            for j0 in range(i0 if same else 0, n_b, tile):
                yield slice(i0, i0 + tile), slice(j0, j0 + tile)

    def tile_pairs(a, b, thr, tile, same, out):
        """Append the id_a < id_b pairs of blocks ``a`` and ``b`` (each
        ``(ids, mat, norms, mat32)``) with ``round(cosine, 4) >= thr`` to
        the ``(id_a, id_b, sim)`` lists ``out``, walking ``tiles``
        through ``screened``."""
        ids_a, mat_a, na, a32 = a
        ids_b, mat_b, nb, b32 = b
        for sa, sb in tiles(len(ids_a), len(ids_b), tile, same):
            ia, ib, sim = screened(
                mat_a[sa], na[sa], mat_b[sb], nb[sb], thr, a32[sa], b32[sb]
            )
            keep = ids_a[sa][ia] < ids_b[sb][ib]
            if keep.any():
                out[0].append(ids_a[sa][ia][keep])
                out[1].append(ids_b[sb][ib][keep])
                out[2].append(sim[keep])

    def pairs_frame(out):
        """The (id_a, id_b, sim) pandas frame of ``tile_pairs`` lists, or
        None when no pair qualified."""
        import numpy as np
        import pandas as pd

        if not out[0]:
            return None
        return pd.DataFrame(
            {c: np.concatenate(v) for c, v in zip(("id_a", "id_b", "sim"), out)}
        )

    return SimpleNamespace(
        norms=norms, decode=decode, stack=stack, cosine=cosine,
        argmax=argmax, topk=topk, screened=screened, reduce_tile=reduce_tile,
        tiles=tiles, tile_pairs=tile_pairs, pairs_frame=pairs_frame,
    )


_VK = _make_vector_kernels()


def _cell_rank_blocks(frame, id_col, vec_col, out_ids, out_flat):
    """(cell, __blk, ids[], flat[]) — the bounded shipping unit of the
    per-cell GEMM operators: rows rank-blocked WITHIN their cell into
    id-ordered runs of at most COSINE_SHIP_TILE vectors, each run
    aggregated to one row carrying flat primitive arrays (ids +
    row-major matrix), so Arrow hands the Python kernel two contiguous
    buffers per block. Rank (not global floor(id/SHIP_TILE)) blocking
    keeps blocks-per-cell at ceil(m/SHIP_TILE) regardless of how the
    cell's ids scatter across the corpus id space — global blocking
    made the block-pair self-join's payload shipping QUADRATIC in
    corpus size (see semdedup_dropped's blocking note)."""
    return (
        frame.select(
            "cell",
            F.floor(
                (
                    F.row_number().over(
                        Window.partitionBy("cell").orderBy(id_col)
                    )
                    - F.lit(1)
                )
                / COSINE_SHIP_TILE
            ).alias("__blk"),
            F.col(id_col),
            F.col(vec_col),
        )
        .groupBy("cell", "__blk")
        # array_sort by id: both sides of a block join must decode a
        # block in the same element order (collect_list alone does not
        # promise one across re-executions of the subplan)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(id_col, vec_col))
            ).alias("__rows")
        )
        .select(
            "cell",
            "__blk",
            F.expr(f"transform(__rows, r -> r.{id_col})").alias(out_ids),
            F.expr(f"flatten(transform(__rows, r -> r.{vec_col}))").alias(
                out_flat
            ),
        )
    )


def cosine_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    dim: Optional[int] = None,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: (id_a, id_b, sim) for
    all pairs with round(cosine, 4) >= threshold.

    EXPLICIT OPT-IN at corpus scale: this is the exact all-pairs baseline
    — tile-pair count is still O(n^2 / T^2) however well each tile runs.
    The default for large corpora is ``cosine_pairs_bucketed`` (LSH bucket
    then verify); use this path for oracle baselines and small corpora.

    Executed as TILED distributed GEMM — the shape that survives scale-up:
    the corpus is cut into id-range units of ``COSINE_SHIP_TILE`` vectors
    (flat ids + row-major matrix per unit), the upper triangle of unit
    pairs is a self-join, and each unit pair walks ``COSINE_TILE``-sized
    GEMM sub-tiles through the screened kernel inside mapInPandas
    (Arrow-batched, BLAS-backed). Shuffle volume is n/SHIP copies of the
    corpus (the join re-ships every unit once per partner — the term the
    SHIP width controls), never the O(n^2) pair stream; task memory is
    two units plus one sub-tile matrix; no driver-side collect anywhere.
    Only the surviving pairs (>= threshold) materialize.

    For corpora too large even for tiled n^2, cut the pair space first
    with LSH bucketing (random-hyperplane, see ivf_topk's cell
    assignment) and run this verify within buckets.
    """
    # dim is opt-in here (the GEMM itself is dim-agnostic); pass the
    # corpus dimensionality to shed malformed rows — see well_formed_vectors
    if dim is not None:
        corpus = well_formed_vectors(corpus, vec_col, dim)
    # flat primitive shipping + SHIP-sized units with COSINE_TILE GEMM
    # sub-tiling, same rationale as semdedup_dropped's blocks: the
    # self-join re-ships every unit once per partner, so unit width sets
    # the shuffle amplification while the sub-loop bounds task memory
    tile = F.floor(F.col("__id") / COSINE_SHIP_TILE).alias("__tile")
    base = (
        ensure_parallelism(corpus)
        .select(
            F.col(id_col).alias("__id"),
            F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("__v"),
        )
        .withColumn("__tile", tile)
        .groupBy("__tile")
        # sort_array by id: the diagonal-pair skip below needs both join
        # sides to decode a tile in the SAME element order
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__id", "__v"))
            ).alias("__rows"),
        )
        .select(
            "__tile",
            F.expr("transform(__rows, r -> r.__id)").alias("__ids"),
            F.expr("flatten(transform(__rows, r -> r.__v))").alias("__flat"),
        )
    )
    a = base.select(
        F.col("__tile").alias("ta"),
        F.col("__ids").alias("ids_a"),
        F.col("__flat").alias("flat_a"),
    )
    b = base.select(
        F.col("__tile").alias("tb"),
        F.col("__ids").alias("ids_b"),
        F.col("__flat").alias("flat_b"),
    )
    pairs = a.join(b, F.col("ta") <= F.col("tb"))

    tile = COSINE_TILE

    def tile_cosine(batches):
        import numpy as np

        for pdf in batches:
            out = ([], [], [])
            for same, ids_ra, flat_ra, ids_rb, flat_rb in zip(
                pdf["ta"] == pdf["tb"],
                pdf["ids_a"], pdf["flat_a"], pdf["ids_b"], pdf["flat_b"],
            ):
                ids_a, mat_a, na = _VK.decode(ids_ra, flat_ra)
                ids_b, mat_b, nb = _VK.decode(ids_rb, flat_rb)
                _VK.tile_pairs(
                    (ids_a, mat_a, na, mat_a.astype(np.float32)),
                    (ids_b, mat_b, nb, mat_b.astype(np.float32)),
                    threshold, tile, same, out,
                )
            res = _VK.pairs_frame(out)
            if res is not None:
                yield res

    return pairs.mapInPandas(
        tile_cosine, schema="id_a long, id_b long, sim double"
    )


#: Random-hyperplane LSH parameters for cosine_pairs_bucketed. Each bit is
#: the sign of the projection onto a coordinate-difference hyperplane
#: (e_a - e_b), chosen deterministically from LSH_SEED so the Spark plan
#: and the DuckDB oracle bucket identically. Banding follows the MinHash
#: scheme: a pair is a candidate if it collides in ANY band. With r bits
#: per band and L bands, P(candidate) = 1 - (1 - p^r)^L where
#: p = 1 - angle/pi. r=4/L=16 gives ~0.97 recall at cosine 0.5 on 64-dim
#: vectors; production corpora raise r (tighter buckets) and L (recall).
LSH_SEED = 0xC051FE
LSH_BITS_PER_BAND = 4
LSH_N_BANDS = 16

#: Dials for the SIZED operating point (lsh_sized_dials): target expected
#: bucket size, and the candidate recall the band count must hold at the
#: query threshold as r grows. 16 (vs COSINE_TILE=1024) makes the rule
#: bite already at gate-scale corpora (n=500 -> r=5, n=2000 -> r=7), so
#: the correctness gate executes a genuinely different banding than the
#: fixed r=4 entries rather than degenerating to them.
LSH_SIZED_BUCKET = 16
LSH_SIZED_RECALL = 0.9


def lsh_sized_dials(
    n: int,
    threshold: float,
    target_bucket: int = LSH_SIZED_BUCKET,
    recall: float = LSH_SIZED_RECALL,
) -> "tuple[int, int]":
    """(bits_per_band, n_bands) per the measured SIZING-AT-SCALE rule.

    r = max(4, round(log2(n / target_bucket))) holds expected bucket size
    at ~target_bucket as the corpus grows, so verify work PER BAND is
    ~n*B (linear) instead of the fixed-r n^2/2^r (quadratic — the x300
    decorrelated-corpus probe measured alpha_unit -0.32 under this rule,
    tools/scale_probe.py). L then rises to hold candidate recall at
    sim=threshold under the standard hyperplane-LSH collision model
    P(candidate) = 1 - (1 - p^r)^L, p = 1 - arccos(threshold)/pi:
    L = ceil(ln(1-recall) / ln(1-p^r)) ~ (n/B)^(-log2 p) — i.e. total
    verify work L*n*B ~ n^(1+rho), the classic hyperplane-LSH exponent
    (rho ~ 0.5 at tau 0.6): vastly sub-quadratic but NOT linear; holding
    both bucket size and recall costs the rho term, the known price of
    miss-rate-preserving LSH. Both outputs are pure functions of
    (n, threshold), so a build-time DuckDB oracle constructed from the
    gate corpus's row count bands identically to the runtime Spark plan.
    """
    import math

    if not -1.0 < threshold < 1.0:
        # acos is defined at the closed endpoints but the collision
        # model degenerates there: p=1 (every pair collides in every
        # band — no banding needed) and p=0 (no pair ever collides — no
        # L holds any recall). Neither is an LSH operating point.
        raise ValueError(
            f"lsh_sized_dials: threshold must be a cosine similarity in "
            f"the open interval (-1, 1), got {threshold}"
        )
    if not 0.0 < recall < 1.0:
        # same degeneracy on the other dial: recall=1 needs infinite
        # bands (log(0)), recall<=0 needs none
        raise ValueError(
            f"lsh_sized_dials: recall must be in the open interval "
            f"(0, 1), got {recall}"
        )
    r = max(4, round(math.log2(max(n, 1) / target_bucket)))
    p = 1.0 - math.acos(threshold) / math.pi
    # p**r underflows to 0.0 for thresholds near -1 with large r, and
    # log(1 - p**r) rounds to 0.0 once p**r < ~1e-17 even when p**r is
    # representable — both end in ZeroDivision (r12 advisor). log1p
    # keeps the denominator exact down to the 1e-300 clamp.
    pr = min(max(p**r, 1e-300), 1.0 - 1e-12)
    n_bands = max(1, math.ceil(math.log(1.0 - recall) / math.log1p(-pr)))
    return r, n_bands


def _lsh_index_pairs(
    dim: int,
    n_bits: int,
    seed: int = LSH_SEED,
    bits_per_band: int = LSH_BITS_PER_BAND,
):
    """Deterministic (a, b) coordinate pairs defining sign-test hyperplanes.

    Uniqueness is enforced WITHIN each band only (a repeated plane inside
    one band would waste a bit of its signature); across bands reuse is
    statistically harmless and keeps the construction total for low-dim
    vectors, where the distinct-plane pool may be smaller than the
    n_bits = r*L planes requested. Pairs are canonicalized UNORDERED per
    band: (a, b) and (b, a) are the same hyperplane with complementary
    signs, so admitting both would spend two signature bits on one plane.
    The per-band pool is therefore dim*(dim-1)/2 distinct planes, and
    that must exceed bits-per-band for the loop to terminate.
    """
    import random

    if bits_per_band > 62:
        # bit r-1 weighs 2^(r-1): past 62 a band signature no longer fits
        # a 64-bit integer. The refusal lives HERE because both signature
        # builders funnel through this plane generator: the numpy kernel
        # (whose int64 weights would wrap) and the DuckDB oracle builder
        # (whose `1 << j` SQL literals would widen past BIGINT).
        # r = round(log2(n/B)) reaches 62 only at n ~ 7e19 rows, so no
        # sized corpus hits this.
        raise ValueError(
            f"bits_per_band={bits_per_band} overflows the 64-bit band "
            f"signature; the sizing rule should never exceed 62 bits per band"
        )
    if dim * (dim - 1) // 2 <= bits_per_band:
        raise ValueError(f"dim {dim} too small for {bits_per_band}-bit bands")
    rnd = random.Random(seed)
    pairs: list[tuple[int, int]] = []
    band_seen: set[tuple[int, int]] = set()
    while len(pairs) < n_bits:
        if len(pairs) % bits_per_band == 0:
            band_seen = set()
        a, b = rnd.randrange(dim), rnd.randrange(dim)
        if a != b and (min(a, b), max(a, b)) not in band_seen:
            band_seen.add((min(a, b), max(a, b)))
            pairs.append((a, b))
    return pairs


def _lsh_band_sigs(
    vec: str,
    dim: int,
    bits_per_band: int = LSH_BITS_PER_BAND,
    n_bands: int = LSH_N_BANDS,
) -> list[str]:
    """One DuckDB integer signature expression per band (the oracle's
    banding; DuckDB lists are 1-based): bit j of a band's signature is
    the sign test of that band's j-th ``_lsh_index_pairs`` plane and
    weighs 2^j, as in ``_lsh_banded``."""
    idx = _lsh_index_pairs(dim, bits_per_band * n_bands, LSH_SEED, bits_per_band)
    sigs = []
    for band in range(n_bands):
        bits = []
        for j in range(bits_per_band):
            a, b = idx[band * bits_per_band + j]
            bits.append(
                f"(CASE WHEN {vec}[{a + 1}] > {vec}[{b + 1}] "
                f"THEN {1 << j} ELSE 0 END)"
            )
        sigs.append(" + ".join(bits))
    return sigs


def _lsh_banded(base: DataFrame, dim: int, r: int, n_bands: int) -> DataFrame:
    """The LSH band signatures of ``base`` (``__id`` long, ``__v``
    array<double>): one (``__id``, ``__v``, ``band``, ``sig``) row per
    vector and band, with ``r`` bits per band over ``_lsh_index_pairs``.

    One vectorized numpy kernel for every dial size. A codegen form (r*L
    scalar CASEs in one projection) exceeds the JIT's huge-method limit
    at sized dials (r*L in the hundreds) and runs as interpreted bytecode
    (measured: the sig stage's executor CPU swung 1.8-28 s at sf0.1 with
    multi-second GC, for ~0.6M comparisons); a literal-array HOF form is
    interpreted per plane by construction. A sign test is an EXACT
    comparison and a band signature an exact integer sum, so the kernel
    produces bit-identical (band, sig) values to the DuckDB oracle built
    from ``_lsh_band_sigs``. ``_lsh_index_pairs`` refuses r > 62 (a
    64-bit signature overflows). The kernel yields in bounded slices:
    output amplification is L rows per input row, so one 10k-row Arrow
    batch would otherwise emit one L*10k-row batch in a single
    allocation."""
    idx_pairs = _lsh_index_pairs(dim, r * n_bands, LSH_SEED, r)
    a_idx = [a for a, _ in idx_pairs]
    b_idx = [b for _, b in idx_pairs]

    def band_sigs_stream(batches):
        import numpy as np
        import pandas as pd

        A = np.asarray(a_idx, np.int64)
        B = np.asarray(b_idx, np.int64)
        W = np.int64(1) << np.arange(r, dtype=np.int64)
        OUT_SLICE = 1 << 15
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            mat = _VK.stack(pdf["__v"], "LSH banding")
            bits = mat[:, A] > mat[:, B]
            sigs = (bits.reshape(n, n_bands, r) * W[None, None, :]).sum(
                axis=2, dtype=np.int64
            )
            ids = np.repeat(pdf["__id"].to_numpy(), n_bands)
            vecs = np.repeat(pdf["__v"].to_numpy(), n_bands)
            band = np.tile(np.arange(n_bands, dtype=np.int32), n)
            sig = sigs.reshape(-1)
            for o in range(0, n * n_bands, OUT_SLICE):
                yield pd.DataFrame(
                    {
                        "__id": ids[o : o + OUT_SLICE],
                        "__v": vecs[o : o + OUT_SLICE],
                        "band": band[o : o + OUT_SLICE],
                        "sig": sig[o : o + OUT_SLICE],
                    }
                )

    return base.mapInPandas(
        band_sigs_stream,
        schema="__id long, __v array<double>, band int, sig long",
    )


def cosine_pairs_bucketed(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    dim: int = 64,
    bits_per_band: int = LSH_BITS_PER_BAND,
    n_bands: int = LSH_N_BANDS,
    n_rows: Optional[int] = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via random-hyperplane LSH bucketing
    — the scale PLAN that replaces ``cosine_pairs``'s exact all-pairs.
    The default dials (r=4/L=16) are oracle-stability compat points, NOT
    the deployment setting: at scale, pass dials from ``lsh_sized_dials``
    (the corpus-sized rule the ``dedup_embedding_cosine_lsh_sized`` entry
    gates) — the 100 TB default is that SIZED operating point.

    Plan shape: each vector computes L band signatures in one numpy kernel
    (``_lsh_banded``: sign tests on coordinate differences — genuine
    random-hyperplane LSH with planes e_a - e_b), explodes to L rows, and
    candidate pairs fall out of a self-equi-join on (band, signature). Only
    same-bucket pairs are verified with the exact cosine expression; a
    groupBy dedups pairs colliding in several bands before the verify runs,
    so each candidate pair is scored once. Shuffle volume is L rows per
    vector (linear); the pair space is never enumerated. Degenerate buckets
    (boilerplate corpora collapsing many vectors into one (band, sig))
    cannot blow a task: the per-bucket verify sub-tiles its GEMM at
    ``COSINE_TILE`` (see ``bucket_pairs_stream``), so peak memory per task
    is one tile pair regardless of bucket size. (AQE skew-join does NOT help
    here — it splits join/shuffle partitions, not applyInPandas groups.)
    Raising LSH_BITS_PER_BAND splits buckets geometrically for denser
    corpora.

    Approximation is in CANDIDATE GENERATION only (a >= threshold pair
    colliding in no band is missed); every returned pair carries its
    exact cosine. Deterministic: hyperplanes derive from LSH_SEED, so
    results are stable run-to-run and match the DuckDB oracle built by
    ``cosine_pairs_bucketed_sql``.

    The verify step is each bucket's pairwise-cosine block as ONE BLAS
    matmul inside applyInPandas — not a per-pair cosine expression:
    Spark's higher-order array functions are interpreted (no codegen),
    so scoring candidate pairs one-by-one costs ~100x the same FLOPs in
    a GEMM, and the bucket rows are already co-located by the (band,
    sig) shuffle the candidate join needs anyway. A pair colliding in
    several bands is scored in each — dedup'd by the final groupBy —
    and buckets are small by construction (that is what bits-per-band
    buys), so the duplicate work is bounded by L tiny GEMMs.

    SIZING AT SCALE: ``bits_per_band`` (r) and ``n_bands`` (L) are the
    compute/recall dials and MUST grow with the corpus. Each band has at
    most 2^r signatures, so expected bucket size is ~n/2^r and verify
    work is Sum(m^2) ~ L * n^2 / 2^r — with r FIXED that is quadratic
    (round 9's volume-scaling probe measured alpha 1.19 on this entry at
    the default r=4/L=16; fine to ~10^5 vectors, a killer at 10^9). Size
    r ~ log2(n / B) for a target bucket B (e.g. B = COSINE_TILE), which
    makes verify work ~L * n * B — linear; then raise L to hold recall
    (P(candidate) = 1 - (1 - p^r)^L). The parameters are explicit
    (not count()-adaptive) because the DuckDB oracle's signature
    expressions are generated at BUILD time — both sides of a comparison
    must be constructed with the same (r, L).

    ``n_rows`` (optional, corpus row count — pass a footer-metadata
    count, never a count() job) sizes the bucket shuffle: the signature
    stream is n*L rows EACH CARRYING ITS VECTOR (~dim*8+48 bytes), so at
    sized dials (L in the hundreds — see lsh_sized_dials) it reaches
    tens of GB while the session default of 32 shuffle partitions hands
    each of 32 concurrent applyInPandas tasks a ~0.5 GB Arrow group
    batch — measured Java-heap OOM at the x30 probe point (round 12).
    With n_rows the stream is explicitly hash-repartitioned on the
    grouping keys to ~128 MB partitions; the groupBy's own exchange is
    then satisfied by the existing partitioning (same keys), so this
    adds no extra shuffle, only picks the partition COUNT the default
    could not know. Results are identical either way — partitioning
    never changes bucket membership.
    """
    corpus = ensure_parallelism(well_formed_vectors(corpus, vec_col, dim))
    base = corpus.select(
        F.col(id_col).alias("__id"),
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("__v"),
    )
    sigs = _lsh_banded(base, dim, bits_per_band, n_bands)
    if n_rows is not None:
        stream_bytes = n_rows * n_bands * (dim * 8 + 48)
        parts = max(32, -(-stream_bytes // (128 << 20)))
        sigs = sigs.repartition(int(parts), "band", "sig")
    else:
        sigs = sigs.repartition("band", "sig")
    # The verify stage is GROUP-RUN mapInPandas over (band, sig)-sorted
    # partitions: the hash repartition above co-locates each bucket, the
    # sort makes it one contiguous run, and the kernel walks run
    # boundaries — the bucket membership and per-bucket math of
    # groupBy().applyInPandas, but the Python boundary is crossed once
    # per ~10k-row Arrow batch instead of once per BUCKET. Sized dials
    # make buckets small by design (~LSH_SIZED_BUCKET rows, thousands of
    # buckets even at gate scale), so per-group crossings would dominate
    # the stage. applyInPandas plans the same per-partition sort, so the
    # explicit sort adds no new work.
    sigs = sigs.sortWithinPartitions("band", "sig")
    tile = COSINE_TILE

    def bucket_pairs_stream(batches):
        import numpy as np
        import pandas as pd

        def flush(pdf):
            # Vectorized across buckets: sized dials pin the bucket BODY
            # at ~LSH_SIZED_BUCKET rows, so a partition holds thousands
            # of tiny runs and a per-bucket Python loop would spend its
            # time in call overhead, not FLOPs. Runs are grouped BY
            # LENGTH and each length class scored as ONE batched GEMM
            # (m x L x L), chunked so the sims tensor stays ~32 MB. Pair
            # SET and rounded sims match a per-bucket walk: dgemm vs
            # elementwise summation differ by the ~1-ulp class round(·,
            # 4) absorbs (see _VK.screen), and a pair of equal ids
            # (duplicate-id corpus) is dropped by the lo < hi mask
            # exactly as the sorted upper-triangle walk drops it.
            b = pdf["band"].to_numpy()
            s = pdf["sig"].to_numpy()
            ids = pdf["__id"].to_numpy()
            mat = _VK.stack(pdf["__v"], "LSH bucket verify")
            norms = _VK.norms(mat)
            change = np.flatnonzero((b[1:] != b[:-1]) | (s[1:] != s[:-1])) + 1
            starts = np.concatenate(([0], change))
            lengths = np.diff(np.concatenate((starts, [len(pdf)])))
            out = ([], [], [])
            small = (lengths >= 2) & (lengths <= tile)
            for ln in np.unique(lengths[small]):
                offs = starts[small][lengths[small] == ln]
                iu, ju = np.triu_indices(ln, 1)
                # chunk so the m x ln x ln sims tensor stays bounded
                step = max(1, (1 << 22) // int(ln * ln))
                for c0 in range(0, len(offs), step):
                    o = offs[c0 : c0 + step]
                    rows = o[:, None] + np.arange(ln)[None, :]
                    g, gn = mat[rows], norms[rows]
                    sims = np.round(_VK.cosine(g, gn, g, gn), 4)
                    simp = sims[:, iu, ju].ravel()
                    ka = ids[rows[:, iu]].ravel()
                    kb = ids[rows[:, ju]].ravel()
                    lo = np.minimum(ka, kb)
                    hi = np.maximum(ka, kb)
                    keep = (simp >= threshold) & (lo < hi)
                    if keep.any():
                        out[0].append(lo[keep])
                        out[1].append(hi[keep])
                        out[2].append(simp[keep])
            # Degenerate bucket (> tile rows): sorted by id and walked in
            # tile-sized sub-tiles (upper triangle only), so peak memory
            # is one tile^2 block plus the bucket's vectors, never the
            # bucket-squared matrix; every id_a < id_b pair is still
            # seen exactly once.
            for st, ln in zip(starts[lengths > tile], lengths[lengths > tile]):
                order = np.argsort(ids[st : st + ln], kind="stable")
                bmat = mat[st : st + ln][order]
                blk = (ids[st : st + ln][order], bmat, _VK.norms(bmat),
                       bmat.astype(np.float32))
                _VK.tile_pairs(blk, blk, threshold, tile, True, out)
            return _VK.pairs_frame(out)

        # A bucket may span Arrow batch boundaries: carry the trailing
        # (possibly incomplete) run into the next batch. Peak held rows =
        # largest bucket + one batch — the same bound applyInPandas paid
        # for its largest group.
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            n = len(pdf)
            if n == 0:
                continue
            b = pdf["band"].to_numpy()
            s = pdf["sig"].to_numpy()
            diff = np.flatnonzero((b != b[-1]) | (s != s[-1]))
            cut = int(diff[-1]) + 1 if diff.size else 0
            carry = pdf.iloc[cut:]
            if cut:
                res = flush(pdf.iloc[:cut])
                if res is not None:
                    yield res
        if carry is not None and len(carry):
            res = flush(carry)
            if res is not None:
                yield res

    return (
        sigs.mapInPandas(
            bucket_pairs_stream, schema="id_a long, id_b long, sim double"
        )
        .groupBy("id_a", "id_b")
        .agg(F.min("sim").alias("sim"))
    )


def cosine_pairs_bucketed_sql(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    dim: int = 64,
    bits_per_band: int = LSH_BITS_PER_BAND,
    n_bands: int = LSH_N_BANDS,
) -> str:
    """DuckDB twin of cosine_pairs_bucketed: identical hyperplanes and
    banding, so the candidate sets — not just the verified pairs — agree.
    Pass the same (bits_per_band, n_bands) as the Spark side when sizing
    off the defaults (see cosine_pairs_bucketed's SIZING AT SCALE)."""
    band_sql = "\n  UNION ALL\n".join(
        f"  SELECT {id_col} AS id, {vec_col} AS __v, {band} AS band, "
        f"{sig} AS sig FROM {table} "
        f"WHERE {well_formed_sql(vec_col, dim)}"
        for band, sig in enumerate(
            _lsh_band_sigs(vec_col, dim, bits_per_band, n_bands)
        )
    )
    sim = VEC.cosine("a.__v", "b.__v", "duckdb")
    return f"""
WITH sigs AS (
{band_sql}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         round({sim}, 4) + 0.0 AS sim
  FROM sigs a JOIN sigs b
    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
)
SELECT id_a, id_b, sim FROM cand WHERE sim >= {threshold}
"""


def cosine_pairs_sql(
    table: str, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.5, *, dim: int,
) -> str:
    """DuckDB twin of cosine_pairs. ``dim`` is REQUIRED (no default):
    the Spark twin defaults ``dim=None`` (no length filter — hard
    defaults broke dim-agnostic property tests), so a defaulted 64 here
    would silently drop every row of a non-64-dim corpus while Spark
    kept them all — a guaranteed spurious divergence. Forcing the caller
    to state the dimension keeps the two filters identical by
    construction."""
    sim = VEC.cosine("a.__v", "b.__v", "duckdb")
    return f"""
WITH e AS (SELECT {id_col} AS id, {vec_col} AS __v FROM {table}
           WHERE {well_formed_sql(vec_col, dim)})
SELECT id_a, id_b, sim FROM (
  SELECT a.id AS id_a, b.id AS id_b, round({sim}, 4) + 0.0 AS sim
  FROM e a JOIN e b ON a.id < b.id
) WHERE sim >= {threshold}
"""


#: IVF configuration: centroid stride (every Nth vector is a coarse cell
#: center — a deterministic stand-in for trained k-means centers), probe
#: count, and the query-set stride (co-prime with the centroid stride so
#: queries are not the centroids themselves).
#:
#: IVF_NPROBE=2 is a PLAN-SHAPE gate default, not a recall claim: on
#: UNCLUSTERED data recall is bounded by the scanned fraction ~nprobe/K
#: (measured r13 vs the exact baseline on the near-uniform gate corpus:
#: recall@5 0.248 at nprobe=2, 0.943 at nprobe=24 — full curve in
#: SCALE.md "IVF recall dial"). Real clustered corpora concentrate
#: neighbors in the top probed cells, which is where IVF earns its keep
#: — measure recall on YOUR corpus geometry and size nprobe before
#: deploying.
IVF_NPROBE = 2
IVF_QUERY_STRIDE = 97


def adaptive_centroid_stride(n: int) -> int:
    """Corpus-size-aware centroid stride: the smallest power of two whose
    SQUARE exceeds ``n`` — i.e. sqrt(n) <= stride < 2*sqrt(n), so the
    default centroid count ``K = n / stride`` tracks ~sqrt(n)/2..sqrt(n).

    Why sqrt(n) and not a constant: IVF/SemDeDup total cost is
    assignment (n*K cosines) plus within-cell work (~n^2/K pair sims for
    SemDeDup, query*cell-size probes for IVF); both are minimized at
    K ~ sqrt(n), giving O(n^1.5) total. Round 9's volume-scaling probe
    measured the old FIXED stride (50, i.e. K = n/50) at alpha = 1.74
    (semantic_dedup, 10x->30x step) — the n*K assignment term is
    O(n^2/50), a plan that dies at 100 TB. A fixed centroid COUNT fails
    the same way on the other term (cells grow linearly, within-cell
    work goes quadratic) — measured alpha = 3.08 on the fixed-k-means
    entry before this change.

    Pure integer math (shift/compare) so the DuckDB oracle replays the
    exact same value via ``_adaptive_stride_sql`` — no float log2/ceil
    whose 1-ulp libm differences near power-of-4 corpus sizes could
    flip the two engines onto different centroid sets.
    """
    s = 0
    while (1 << (2 * s)) <= n:
        s += 1
    return 1 << s


def _adaptive_stride_sql(src: str = "e") -> str:
    """Scalar-subquery twin of ``adaptive_centroid_stride`` over the CTE
    ``src`` (one column set with ``id``): yields one column ``st``.
    Integer shifts only — bitwise-identical to the Python derivation.

    The series runs to s = 32 and the comparison shift is HUGEINT: any
    BIGINT count n < 2^63 < 4^32 satisfies the predicate at s = 32, so
    min() is total over the whole BIGINT domain (an earlier 0..31 series
    left min() over an empty set — NULL — for n >= 4^31, and ``id %
    NULL`` would have silently filtered every centroid instead of
    erroring; advisor round-9 finding). The stride itself (1 << s,
    s <= 32) stays comfortably inside BIGINT; 2*s = 64 would overflow a
    BIGINT shift, hence the HUGEINT cast on the comparison side only."""
    return (
        f"(SELECT min(1::BIGINT << s) AS st FROM generate_series(0, 32) t(s), "
        f"(SELECT count(*) AS n FROM {src}) c WHERE (1::HUGEINT << (2*s)) > c.n)"
    )


def canonical_vectors(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """One canonical ``(nid, __v)`` row per distinct id: duplicate ids
    collapse to the LEXICOGRAPHICALLY GREATEST vector.

    Re-crawled corpora re-emit an id with a different payload (the repo's
    dup-id threat model, tests/test_dupid_adversaries.py). Round 9's
    assignment carried ``__v`` per id group with ``first()`` — for
    duplicate ids with non-colinear vectors that pick is nondeterministic
    and could diverge from the oracle's max-cosine-row pick (advisor
    round-9 finding). Collapsing BEFORE any IVF role derives from the
    corpus (centroid selection, assignment, query-set selection) makes
    every downstream value a pure function of the corpus SET — in both
    engines, regardless of duplicate multiplicity or row order. Array
    comparison is lexicographic in Spark and DuckDB alike, so the oracle
    replays the collapse exactly as ``max(__v) .. GROUP BY id``.

    Cost: one exchange carrying one row per id — the same volume the old
    per-id argmax aggregate already paid — and the agg is map-side
    combinable, so dup rows collapse before the wire where they co-reside.
    """
    return (
        corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("__v"))
        .groupBy("nid")
        .agg(F.max("__v").alias("__v"))
    )


def _canonical_sql(src: str = "e") -> str:
    """DuckDB twin of :func:`canonical_vectors` as a CTE body over ``src``
    (columns ``id, __v``): duplicate ids collapse to the lexicographically
    greatest vector — list comparison semantics agree across the engines
    for well-formed (NaN-free) vectors."""
    return f"SELECT id, max(__v) AS __v FROM {src} GROUP BY id"


def default_stride_centroids(
    corpus: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """The default deterministic centroid set: ids divisible by the
    adaptive stride (reproducible, oracle-friendly — no RNG, no sample).
    Costs one count() job at plan-build time (map-side count, one scan);
    callers that build several consumers over the same centroid set
    should call this ONCE and pass the frame down so the count isn't
    repeated and the broadcast subplan stays byte-identical (AQE then
    collapses the duplicate BroadcastExchange into a ReusedExchange).

    Sizing counts RAW corpus rows (duplicate ids inflate the stride a
    hair — harmless for a heuristic); centroid ROWS come from the
    canonical dup-collapsed frame so one id can never contribute two
    centroid vectors under the same cid (see ``canonical_vectors``)."""
    stride = adaptive_centroid_stride(corpus.count())
    return (
        canonical_vectors(corpus, id_col, vec_col)
        .filter(F.col("nid") % stride == 0)
        .select(F.col("nid").alias("cid"), F.col("__v").alias("__cent"))
    )


def _counted_canonical(
    corpus: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """``canonical_vectors`` plus each id's raw row multiplicity ``__c``:
    (nid, __v, __c). The sum of ``__c`` is the exact raw row count, so
    the stride sizing and the centroid candidates can come out of ONE
    aggregate over this frame (``_stride_centroid_matrix``)."""
    return (
        corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("__v"))
        .groupBy("nid")
        .agg(F.max("__v").alias("__v"), F.count(F.lit(1)).alias("__c"))
    )


def _stride_centroid_matrix(
    corpus: DataFrame, vecs: DataFrame, n_hint: Optional[int]
):
    """The default-stride centroid triplet of ``corpus`` from its counted
    canonical frame ``vecs`` (``_counted_canonical``), in ONE job when
    ``n_hint`` is given: a single aggregate returns the raw row count
    together with the canonical candidates at the stride the hint
    implies.

    ``n_hint`` is an UPPER BOUND on the corpus row count (parquet footer
    rows — the corpus frames here are footer rows minus shed malformed
    vectors). Because ``adaptive_centroid_stride`` is monotone, the
    guessed stride is >= the true stride; when they are EQUAL (no or few
    malformed rows) the candidates at ``nid % guess == 0`` are exactly
    the centroid set. When shed rows push the true count into a lower
    power-of-4 bracket (guess > stride: the candidates would be a SUBSET
    of what is needed), the exact count from that job sizes one more
    collect; with no hint, a ``count()`` job and the collect. Every path
    returns the triplet ``_collect_centroid_matrix(
    default_stride_centroids(corpus))`` returns: the candidates come from
    the same canonical ``max(__v)`` aggregate and the stride from the
    same exact raw count, and the driver holds ~sqrt(n) candidate rows,
    the volume the plain collect already pays.
    """
    n = None
    if n_hint is not None and n_hint > 0:
        guess = adaptive_centroid_stride(n_hint)
        row = (
            vecs.groupBy()
            .agg(
                F.sum("__c").alias("n"),
                F.collect_list(
                    F.when(F.col("nid") % guess == 0, F.struct("nid", "__v"))
                ).alias("cand"),
            )
            .collect()[0]
        )
        n = row["n"] or 0
        stride = adaptive_centroid_stride(n)
        if stride >= guess:
            return _centroid_triplet(
                (r["nid"], r["__v"])
                for r in (row["cand"] or [])
                if r["nid"] % stride == 0
            )
    stride = adaptive_centroid_stride(corpus.count() if n is None else n)
    return _collect_centroid_matrix(
        vecs.filter(F.col("nid") % stride == 0).select(
            F.col("nid").alias("cid"), F.col("__v").alias("__cent")
        )
    )


def kmeans_centroid_matrix(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
    n_hint: Optional[int] = None,
):
    """Lloyd refinement of IVF centroids as the driver-side
    ``(ids, matrix, norms)`` triplet (see ``_centroid_triplet``), no RNG;
    ``kmeans_centroids`` is the same centroids as a (cid, __cent) frame.

    Initialization is the same deterministic stride subset ``ivf_topk``
    uses by default (``n_hint``: see ``_stride_centroid_matrix``), then
    ``iters`` rounds of assign + recompute-means tighten the cells. No
    RNG anywhere — but true bitwise reproducibility holds only in a
    single-JVM session (pinned by pytest): the centroid means are float
    sums whose partial-merge order follows shuffle-fetch order, so on a
    multi-executor cluster bitwise-different means can flip a near-tie
    argmax assignment. The registry entry therefore MATERIALIZES the
    computed centroids to parquet and oracles the probe+search over that
    table — the oracle never depends on replaying the refinement.

    Scale shape per round (the MLlib KMeans structure): the round's
    centroid matrix lives DRIVER-SIDE as numpy (K ~ sqrt(n) rows x dim —
    see _collect_centroid_matrix for the size argument) and is broadcast
    into ONE job per round: GEMM-argmax each Arrow batch of the corpus
    (``_gemm_partial_means``), emit per-task (cell, sum, count) partials
    — touched cells x (dim + 1) rows per task, never the corpus — and
    collect the K x dim means straight back to the driver for the next
    round. No per-round localCheckpoint (the numpy handoff already
    severs lineage — each round's plan is the constant-depth scan ->
    GEMM -> agg), no per-round dup-collapse (the canonical frame is
    built once, and its agg is the only corpus-volume exchange).

    Input rows are canonicalized once (``canonical_vectors``): duplicate
    ids contribute ONE vector to every mean and one assignment row —
    matching the dup-collapse contract of assign_cells/the oracles.
    """
    corpus = ensure_parallelism(corpus)
    spark = corpus.sparkSession
    # The canonical frame is checkpointed ONCE: every Lloyd round's plan
    # would otherwise re-execute scan -> repartition -> the dup-collapse
    # agg, the loop's only corpus-volume exchange (the MLlib KMeans
    # contract likewise requires its input cached). Lazy: it
    # materializes under the init job, later rounds read the stored
    # partitions; release_cached_residue sweeps the blocks. The loop's
    # GEMM passes prune ``__c`` (which only the fused init reads).
    vecs = (
        _counted_canonical(corpus, id_col, vec_col)
        .select(
            "nid",
            F.expr("transform(__v, x -> cast(x as double))").alias("__v"),
            "__c",
        )
        .localCheckpoint(eager=False)
    )
    cent_np = _stride_centroid_matrix(corpus, vecs, n_hint)
    for _ in range(iters):
        # round-owned broadcast: the collect below is the ONLY consumer
        # of this round's partials, so the K x dim blob is released
        # eagerly instead of waiting for closure GC
        bc = spark.sparkContext.broadcast(cent_np)
        try:
            # Sum partials per (cell, pos), then divide by the count
            # slot. The registry entry materializes the refined
            # centroids, so both engines consume the same bytes whatever
            # the float summation order (determinism note above).
            partials = _gemm_partial_means(vecs, bc)
            mean_rows = (
                partials.select(
                    "cell", F.posexplode("part").alias("pos", "x")
                )
                .groupBy("cell", "pos")
                .agg(F.sum("x").alias("s"))
                .groupBy("cell")
                .agg(
                    F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("__ps")
                )
                .select(
                    F.col("cell").alias("cid"),
                    # last slot is the member count; divide it out
                    F.expr(
                        "transform(slice(__ps, 1, size(__ps) - 1),"
                        " p -> p.s / element_at(__ps, -1).s)"
                    ).alias("__cent"),
                )
                .collect()
            )
        finally:
            bc.unpersist(blocking=False)
        if not mean_rows:  # empty corpus / empty centroid init
            break
        cent_np = _centroid_triplet((r["cid"], r["__cent"]) for r in mean_rows)
    return cent_np


def centroid_frame(spark: SparkSession, cent_np) -> DataFrame:
    """The (cid long, __cent array<double>) frame of a centroid triplet,
    rows in cid order. float64 survives the round-trip exactly:
    ``_collect_centroid_matrix`` of this frame is bitwise ``cent_np``
    (pinned by tests/test_operators.py::
    test_kmeans_return_matrix_matches_collect)."""
    ids, mat, _ = cent_np
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, mat)],
        "cid long, __cent array<double>",
    )


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
    n_hint: Optional[int] = None,
) -> DataFrame:
    """Lloyd-refined IVF centroids as a (cid, __cent) frame: the
    ``centroid_frame`` of ``kmeans_centroid_matrix`` (see there)."""
    return centroid_frame(
        corpus.sparkSession,
        kmeans_centroid_matrix(corpus, id_col, vec_col, iters, n_hint),
    )


def collect_stride_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_hint: Optional[int] = None,
):
    """The default-stride centroid triplet, in ONE job given ``n_hint``
    (a row-count upper bound) — see ``_stride_centroid_matrix``."""
    return _stride_centroid_matrix(
        corpus, _counted_canonical(corpus, id_col, vec_col), n_hint
    )


def _prepared_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: Optional[DataFrame],
) -> DataFrame:
    """The broadcast centroid side shared by ``assign_cells`` and
    ``ivf_topk``'s probe step: (cid, __cent, __nc) with the norm bound
    once and clamped (zero vector -> cosine 0, see vector.NORM_EPS).

    ONE definition on purpose: IVF correctness depends on the probe
    cells and the assignment cells coming from the same centroid set —
    two hand-maintained copies of the default stride subplan could
    silently drift. Both consumers building the byte-identical plan also
    lets AQE's runtime stage reuse collapse the duplicate broadcast
    (the static explain shows two BroadcastExchange nodes; the executed
    ``isFinalPlan=true`` plan shows one replaced by a ReusedExchange),
    so the centroid subplan is computed once per job.
    """
    base = (
        centroids
        if centroids is not None
        else default_stride_centroids(corpus, id_col, vec_col)
    )
    return F.broadcast(
        base.withColumn("__nc", F.expr(VEC.norm_clamped("__cent", "spark")))
    )


#: Centroid-block width for the GEMM argmax: each Arrow batch holds at
#: most ``batch_rows x ASSIGN_CENT_BLOCK`` similarity doubles at a time
#: (a running (best_sim, best_cell) pair carries the argmax across
#: blocks), so per-task memory stays ~batch x 4096 x 8B ≈ 320 MB-bounded
#: at the default 10k Arrow batch even when K reaches the millions a
#: 10^12-row corpus implies (K ~ sqrt(n)).
ASSIGN_CENT_BLOCK = 4096


def _centroid_triplet(pairs):
    """``(ids, matrix, norms)`` numpy triplet from (cid, vector) pairs,
    sorted by cid ASCENDING so np.argmax's first-max tie-break equals the
    (similarity DESC, cid ASC) order the fold argmax and both oracles
    use. Norms are clamped at the shared NORM_EPS so a zero centroid
    scores 0 against everything instead of NaN. The one place a centroid
    matrix is built: the stride init, the Lloyd rounds and the frame
    collect all go through here."""
    import numpy as np

    pairs = sorted(pairs, key=lambda p: p[0])
    ids = np.array([p[0] for p in pairs], np.int64)
    if not pairs:
        return ids, np.empty((0, 0)), np.empty(0)
    try:
        mat = np.stack([np.asarray(p[1], np.float64) for p in pairs])
    except ValueError as exc:
        raise ValueError(
            "centroid vectors must share one dimension — shed malformed "
            "rows with well_formed_vectors(dim=...) before clustering"
        ) from exc
    return ids, mat, _VK.norms(mat)


def _collect_centroid_matrix(centroids: DataFrame):
    """Driver-collect a (cid, __cent) centroid frame into its
    ``_centroid_triplet``.

    The collect is the Spark MLlib KMeans pattern (clustering/KMeans
    collects and broadcasts its center matrix every Lloyd round): K is
    ~sqrt(n) by construction (``adaptive_centroid_stride``), so the
    driver holds K x dim doubles — ~0.5 GB at n = 10^12, dim 64 — never
    a corpus-sized collect.
    """
    return _centroid_triplet(
        (r["cid"], r["__cent"])
        for r in centroids.select("cid", "__cent").collect()
    )


def assign_cells(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: Optional[DataFrame] = None,
    cent_np=None,
) -> DataFrame:
    """Nearest-centroid cell assignment shared by IVF search (``ivf_topk``)
    and semantic dedup (``semdedup_dropped``): returns one row per distinct
    corpus id — (nid, __v, __nv, cell) — where ``cell`` is the id of the
    nearest centroid (max cosine, smallest cid on ties) and ``__v`` is the
    canonical (dup-collapsed, see ``canonical_vectors``) vector.

    Default centroids are the deterministic adaptive-stride subset
    (``default_stride_centroids``: ids divisible by a power-of-two
    stride sized so K ~ sqrt(n) — reproducible, oracle-friendly);
    pass ``centroids=kmeans_centroids(corpus)`` for Lloyd-refined cells.

    EXECUTION IS A BLAS GEMM: the centroid matrix is driver-collected and broadcast (the
    Spark MLlib KMeans pattern — K ~ sqrt(n) rows, see
    ``_collect_centroid_matrix``), and each Arrow batch of corpus vectors
    computes its full batch x K cosine block as one float64 matrix
    multiply inside ``mapInPandas``, blocked at ``ASSIGN_CENT_BLOCK``
    centroids per step so memory stays bounded at any K. The
    fold-based plan (``assign_cells_fold``) evaluated an INTERPRETED
    aggregate/zip_with dot per (vector, centroid) pair — the volume
    probe measured it at 78M interpreted pairs / 26.9 s at the x100
    point; the GEMM computes identical FLOPs vectorized (measured ~7x
    faster there, see SCALE.md "GEMM assignment"). Zero shuffle: the
    corpus stays where it is (the only exchange is the dup-collapse agg,
    one row per id — what the fold's groupBy(nid) already paid), and
    ``cell`` remains the natural partition key for a materialized index.

    Row norms are irrelevant to the argmax (dividing a row's sims by one
    positive scalar reorders nothing), but the per-row norm still
    normalizes the GEMM so emitted sims stay comparable; ``__nv`` is
    re-bound SPARK-SIDE after the kernel with the same clamped-fold
    expression the search path always used, so downstream similarity
    values are bitwise those of the fold plan.

    DETERMINISM: the BLAS reduction order can differ from the fold's
    sequential sum by ~1 ulp, so a genuinely NEAR-TIED pair of centroids
    can flip vs the fold or the DuckDB oracle. Ties themselves (bitwise
    equal sims) break identically (smallest cid: ids sorted ascending,
    argmax keeps the first max, cross-block update is strict >). Registry
    entries therefore MATERIALIZE the assignment and verify both engines
    against the same bytes (``ivf_topk(assigned=...)`` /
    ``ivf_topk_sql(assigned_sql=...)``) — the materialized-assignment
    treatment the k-means centroid table already gets. In-session the
    kernel is deterministic (fixed BLAS, fixed shapes), pinned by pytest.

    Malformed vectors (NULL / ragged / NaN) must be shed FIRST via
    ``well_formed_vectors`` — a ragged row kills np.stack, a NaN row's
    argmax is garbage; every registry caller passes dim through.
    """
    corpus = ensure_parallelism(corpus)
    # ``cent_np``: a pre-collected (ids, matrix, norms) triplet
    # (collect_stride_centroids / kmeans_centroid_matrix) — entries that
    # feed BOTH the assignment and the probe step collect once and pass
    # it down. Without a centroid FRAME the cell ids are long (corpus
    # ids, or the long cids of centroid_frame).
    if centroids is None and cent_np is None:
        centroids = default_stride_centroids(corpus, id_col, vec_col)
    vecs = canonical_vectors(corpus, id_col, vec_col)
    from pyspark.sql.types import LongType

    cid_type = (
        centroids.schema["cid"].dataType if centroids is not None
        else LongType()
    )
    if cent_np is None:
        cent_np = _collect_centroid_matrix(centroids)
    assigned = _gemm_assign_frame(vecs, cent_np, cid_type)
    return assigned.withColumn(
        "__nv", F.expr(VEC.norm_clamped("__v", "spark"))
    ).select("nid", "__v", "__nv", "cell")


def probe_cells(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: Optional[DataFrame] = None,
    nprobe: int = None,  # type: ignore[assignment]
    queries_from: Optional[DataFrame] = None,
    cent_np=None,
) -> DataFrame:
    """(qid, cell) probe set: each query's ``nprobe`` nearest centroids
    under (cosine DESC, cid ASC) — the IVF probe-selection step as a
    blocked GEMM, the same treatment ``assign_cells`` gets (probe
    selection IS a top-P generalization of the argmax).

    The former plan evaluated one interpreted HOF dot per (query,
    centroid) pair and ranked them in a window — queries x K ~ n^1.5/97
    rows (3.6M at the x300 probe point), the last interpreted
    superlinear term in the IVF family after the search GEMM. Here the
    centroid matrix broadcasts driver-side (MLlib KMeans pattern,
    K ~ sqrt(n)) and each Arrow batch of queries keeps a running top-P
    across ASSIGN_CENT_BLOCK-sized GEMM blocks.

    DETERMINISM: same contract as assign_cells — bitwise sim ties break
    cid-ascending (blocks ascend in cid; stable argsorts), but the BLAS
    reduction order can differ ~1 ulp from the fold, so a NEAR-tied
    centroid pair could flip vs the window plan or the DuckDB oracle.
    Registry entries therefore MATERIALIZE the probe table and point
    the oracle at the same bytes (``ivf_topk_sql(probes_sql=...)``),
    exactly like the assignment index.

    ``queries_from`` injects the query source frame (columns nid, __v)
    — entries pass the materialized assignment so the stride filter
    pushes into the index scan; default is the canonical corpus.
    """
    corpus = ensure_parallelism(corpus)
    if nprobe is None:
        nprobe = IVF_NPROBE
    if centroids is None and cent_np is None:
        centroids = default_stride_centroids(corpus, id_col, vec_col)
    qsrc = (
        queries_from
        if queries_from is not None
        else canonical_vectors(corpus, id_col, vec_col)
    )
    queries = qsrc.filter(F.col("nid") % IVF_QUERY_STRIDE == 0).select(
        F.col("nid").alias("qid"), F.col("__v").alias("__q")
    )
    from pyspark.sql.types import LongType

    # cid type from the frame when given; a pre-collected default-stride
    # matrix carries corpus ids — long (same contract as assign_cells).
    # (The raw (cid, __cent) frame is used, not _prepared_centroids: the
    # matrix is driver-collected, so the broadcast hint and __nc column
    # would be dead weight and the unconsumed hint logs a warning.)
    cid_type = (
        centroids.schema["cid"].dataType if centroids is not None
        else LongType()
    )
    # shared pre-collected matrix, same contract as assign_cells
    if cent_np is None:
        cent_np = _collect_centroid_matrix(centroids)
    return _gemm_topp_frame(queries, cent_np, cid_type, nprobe)


def _gemm_topp_frame(
    queries: DataFrame, cent_np, cid_type, nprobe: int
) -> DataFrame:
    """Blocked-GEMM running top-P over a (qid, __q) frame — the probe
    kernel behind :func:`probe_cells`. Same broadcast lifecycle and
    malformed-input contract as ``_gemm_assign_frame``; the running
    merge is ``_VK.topk`` over cid-ascending centroid blocks, so bitwise
    ties always resolve to the smaller cid."""
    from pyspark.sql.types import StructField, StructType

    cids, cmat, cnorms = cent_np
    if len(cids) == 0:
        return (
            queries.select("qid")
            .limit(0)
            .withColumn("cell", F.lit(None).cast(cid_type))
        )
    bc = queries.sparkSession.sparkContext.broadcast((cids, cmat, cnorms))
    out_schema = StructType(
        [
            queries.schema["qid"],
            StructField("cell", cid_type, True),
        ]
    )
    block = ASSIGN_CENT_BLOCK
    P = int(nprobe)

    def probe(batches):
        import numpy as np
        import pandas as pd

        b_ids, b_mat, b_norms = bc.value
        PAD = np.iinfo(np.int64).max
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = _VK.stack(pdf["__q"], "GEMM probe selection")
            norms = _VK.norms(mat)
            run_s = np.full((len(mat), P), -np.inf)
            run_c = np.full((len(mat), P), PAD, np.int64)
            for c0 in range(0, len(b_ids), block):
                c1 = c0 + block
                sims = _VK.cosine(mat, norms, b_mat[c0:c1], b_norms[c0:c1])
                run_s, run_c = _VK.topk(run_s, run_c, sims, b_ids[c0:c1], P)
            valid = (run_s > -np.inf).ravel()
            yield pd.DataFrame(
                {
                    "qid": np.repeat(pdf["qid"].to_numpy(), P)[valid],
                    "cell": run_c.ravel()[valid],
                }
            )

    return queries.mapInPandas(probe, schema=out_schema)


def _gemm_assign_frame(vecs: DataFrame, cent_np, cid_type, bc=None) -> DataFrame:
    """The GEMM argmax kernel over a (nid, __v) frame given driver-side
    centroid numpy arrays — shared by assign_cells and the Lloyd loop.
    Appends ``cell`` (nearest centroid id; smallest cid on bitwise ties)
    in one mapInPandas pass, blocked at ASSIGN_CENT_BLOCK centroids.

    Broadcast lifecycle: when ``bc`` (a pre-made ``sc.broadcast`` of
    ``cent_np``) is passed, the CALLER owns it and should
    ``unpersist()`` after the consuming action — the Lloyd loop does
    exactly that per round, so a long session never accumulates K x dim
    blobs. When ``bc`` is None (the lazy ``assign_cells`` path, whose
    frame may be acted on any number of times later) the broadcast's
    release is necessarily deferred to GC of the closure — acceptable
    because that path makes ONE broadcast per operator call, not one per
    iteration."""
    from pyspark.sql.types import StructField, StructType

    cids, cmat, cnorms = cent_np
    if len(cids) == 0:
        # no centroids (empty corpus, or no id hits the stride): the fold
        # plan's inner join with an empty broadcast produced zero rows —
        # same contract here
        return vecs.limit(0).withColumn("cell", F.lit(None).cast(cid_type))
    if bc is None:
        bc = vecs.sparkSession.sparkContext.broadcast((cids, cmat, cnorms))
    out_schema = StructType(
        list(vecs.schema.fields) + [StructField("cell", cid_type, True)]
    )
    block = ASSIGN_CENT_BLOCK

    def assign(batches):
        b_ids, b_mat, b_norms = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = _VK.stack(pdf["__v"], "GEMM assignment")
            out = pdf.copy()
            out["cell"] = b_ids[_VK.argmax(mat, _VK.norms(mat), b_mat, b_norms, block)]
            yield out

    return vecs.mapInPandas(assign, schema=out_schema)


def _gemm_partial_means(vecs: DataFrame, bc) -> DataFrame:
    """One Lloyd round's map side as a single corpus pass: GEMM-argmax
    each Arrow batch against the broadcast centroid triplet ``bc``
    (``_VK.argmax``, as in ``_gemm_assign_frame``) and accumulate
    per-TASK ``cell -> (component sums, member count)`` partials in
    numpy, emitting one ``(cell, part)`` row per touched cell per task
    — ``part`` is ``dim + 1`` doubles with the count in the last slot.

    Scale shape: the exchange after this pass carries at most
    tasks x K rows of (dim+1) doubles — the map-side-combine shape — vs
    the n x dim scalar rows the posexplode formulation shuffled. The
    per-task accumulator is a dense K x dim float64 matrix: the same
    asymptotic memory as the broadcast centroid matrix every task
    already holds, so it introduces no new bound (K ~ sqrt(n) by
    construction). Cells with zero members this round emit no row —
    identical to the groupBy-on-assigned contract (the cid drops out of
    the next round's centroid set).

    Tie-break and non-finite behavior are the assign kernel's: smallest
    centroid INDEX on bitwise-tied sims (b_ids is cid-ascending, so
    smallest cid), loud ValueError on NaN/Inf components (``_VK.stack``).
    """
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("cell", LongType(), False),
            StructField("part", ArrayType(DoubleType(), False), False),
        ]
    )
    # pass only the column the kernel touches across the Python boundary
    # (guide §4.1) — the caller's frame also carries nid and the
    # multiplicity column used by the fused init job
    vecs = vecs.select("__v")
    block = ASSIGN_CENT_BLOCK

    def partial(batches):
        import numpy as np
        import pandas as pd

        b_ids, b_mat, b_norms = bc.value
        acc = None  # K x dim sums, allocated on first non-empty batch
        cnt = np.zeros(len(b_ids), np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = _VK.stack(pdf["__v"], "GEMM assignment")
            if acc is None:
                acc = np.zeros((len(b_ids), mat.shape[1]))
            best_idx = _VK.argmax(mat, _VK.norms(mat), b_mat, b_norms, block)
            np.add.at(acc, best_idx, mat)
            cnt += np.bincount(best_idx, minlength=len(b_ids))
        if acc is None:
            return
        touched = np.nonzero(cnt)[0]
        if len(touched) == 0:
            return
        yield pd.DataFrame(
            {
                "cell": b_ids[touched],
                "part": [
                    np.append(acc[i], float(cnt[i])) for i in touched
                ],
            }
        )

    return vecs.mapInPandas(partial, schema=out_schema)


def assign_cells_fold(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: Optional[DataFrame] = None,
) -> DataFrame:
    """Pure-JVM reference implementation of :func:`assign_cells` — the
    round-9 plan: broadcast centroid join + map-side-combinable ``max_by``
    argmax over the interpreted aggregate/zip_with cosine fold, with the
    same (similarity DESC, cid ASC) tie-break and the same canonical
    dup-collapse. Kept for the GEMM equivalence pin
    (tests/test_operators.py) and for environments without numpy on the
    workers; the GEMM path is the default (measured ~7x faster at the
    volume probe's x100 point — the fold evaluates one interpreted HOF
    dot per (vector, centroid) pair).

    ``first()`` carries __v/__nv legitimately here: the canonical frame
    has exactly one row per nid, so every pair row in a group agrees on
    them (the round-9 version ran first() over RAW dup rows — the
    advisor-flagged nondeterminism the collapse removes).
    """
    corpus = ensure_parallelism(corpus)
    cent = _prepared_centroids(corpus, id_col, vec_col, centroids)
    vecs = canonical_vectors(corpus, id_col, vec_col).withColumn(
        "__nv", F.expr(VEC.norm_clamped("__v", "spark"))
    )
    csim = F.expr(f"({VEC.dot('__v', '__cent', 'spark')}) / (__nv * __nc)")
    return (
        vecs.join(cent)
        .groupBy("nid")
        .agg(
            F.max_by(
                F.col("cid"),
                F.struct(csim.alias("s"), F.bitwise_not(F.col("cid")).alias("c")),
            ).alias("cell"),
            F.first("__v").alias("__v"),
            F.first("__nv").alias("__nv"),
        )
        .select("nid", "__v", "__nv", "cell")
    )


def ivf_topk(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    centroids: Optional[DataFrame] = None,
    assigned: Optional[DataFrame] = None,
    probes: Optional[DataFrame] = None,
) -> DataFrame:
    """IVF-style approximate top-k cosine search — the 100 TB scale path.

    Inverted-file ANN: a small set of coarse centroids partitions the
    corpus into cells (each vector assigned to its nearest centroid);
    a query scans only its ``IVF_NPROBE`` nearest cells instead of the
    whole corpus, cutting work by ~|cells|/nprobe at some recall cost —
    recall ~ nprobe/K on unclustered data (measured curve: 0.248 at the
    default nprobe=2 -> 0.943 at nprobe=24 on the near-uniform gate
    corpus; see the IVF_NPROBE note and SCALE.md before deploying).
    Default centroids are the deterministic adaptive-stride subset
    (``default_stride_centroids``, K ~ sqrt(n) — reproducible,
    oracle-friendly); pass ``centroids=kmeans_centroids(
    corpus)`` for Lloyd-refined cells (the registry entry materializes
    those to parquet and oracles the probe+search over the materialized
    table — see ``ivf_topk_sql(cent_sql=...)``). On a real cluster the
    assignment step is a broadcast of the centroid set and the probe
    step a cell-key equi-join — no corpus shuffle, and the cell column
    is the natural partition key for a materialized index.

    Returns (qid, nid, sim, rank) — the same shape as brute_force_topk,
    so callers can swap exact for approximate.

    ``assigned`` lets callers inject a pre-built (materialized) inverted
    file — the (nid, __v, __nv, cell) output of ``assign_cells`` written
    to parquet and read back — so the index is computed once, the search
    reads the persisted cells, and the oracle verifies against the SAME
    bytes (see assign_cells DETERMINISM). Default: assign in-flight.
    """
    corpus = ensure_parallelism(corpus)
    # resolve the default centroid set ONCE so the adaptive-stride
    # count() job runs once and the probe cells / assignment cells come
    # from the same frame (same subplan -> AQE ReusedExchange).
    # Resolution is SKIPPED when both the assignment and the probe table
    # arrive materialized — the search below never touches centroids
    # then, and the eager default would run a wasted count() job.
    if centroids is None and (assigned is None or probes is None):
        centroids = default_stride_centroids(corpus, id_col, vec_col)
    # GEMM assignment shared with semdedup_dropped — see assign_cells for
    # the broadcast/blocked-argmax scale rationale; the probe step reuses
    # the SAME _prepared_centroids definition, so probe cells and
    # assignment cells can't drift
    if assigned is not None:
        # a caller-provided (materialized) index IS the canonical corpus
        # — source the query set from it, so the qid filter pushes into
        # the index scan instead of re-collapsing the corpus
        qsrc = assigned.select("nid", "__v")
    else:
        assigned = assign_cells(corpus, id_col, vec_col, centroids)
        # queries come from the CANONICAL frame, not from ``assigned``:
        # same rows (a duplicate query id probes with its one collapsed
        # vector), but the stride filter pushes through the collapse agg
        # to the scan — through the in-flight GEMM map it could not
        qsrc = canonical_vectors(corpus, id_col, vec_col)
    if probes is not None:
        # caller-provided (materialized) probe table (qid, cell) — see
        # probe_cells; re-bind the query vectors from the same source
        # the in-flight path would use
        probes = probes.join(
            qsrc.select(F.col("nid").alias("qid"), F.col("__v").alias("__q")),
            "qid",
        )
    else:
        cent = _prepared_centroids(corpus, id_col, vec_col, centroids)
        queries = (
            qsrc.filter(F.col("nid") % IVF_QUERY_STRIDE == 0)
            .select(F.col("nid").alias("qid"), F.col("__v").alias("__q"))
            .withColumn("__nq", F.expr(VEC.norm_clamped("__q", "spark")))
        )
        qsim = F.expr(
            f"({VEC.dot('__q', '__cent', 'spark')}) / (__nq * __nc)"
        )
        w_probe = Window.partitionBy("qid").orderBy(
            qsim.desc(), F.col("cid").asc()
        )
        probes = (
            queries.join(cent)
            .withColumn("__rn", F.row_number().over(w_probe))
            .filter(F.col("__rn") <= IVF_NPROBE)
            .select("qid", "__q", "__nq", F.col("cid").alias("cell"))
        )
    return _ivf_block_search(probes, assigned, k)


def _ivf_block_search(
    probe_q: DataFrame, members: DataFrame, k: int
) -> DataFrame:
    """The IVF search kernel shared by ``ivf_topk`` and
    ``ivf_topk_quantized``: top-``k`` members per query by cosine over
    the probed cells. ``probe_q`` carries (cell, qid, __q), one row per
    (query, probed cell); ``members`` carries (cell, nid, __v); other
    columns are ignored. Returns (qid, nid, sim, rank).

    Per-cell blocked GEMM with in-kernel per-query top-k partials: each
    side rank-blocks within its cell, the block join ships bounded
    payloads, each (query-block, member-block) row is scored in
    ``COSINE_TILE``-bounded sub-tiles with a per-query RUNNING top-k
    merged across them (``_VK.topk``), so a task emits at most k rows
    per query per member block and the final window ranks only
    ~queries x nprobe x k x blocks candidate rows. A per-pair plan (one
    interpreted HOF dot per (query, member) pair, then a corpus-wide
    window) evaluates queries x nprobe x |cell| interpreted 64-dim dots
    — ~60M at the x300 probe point, where it measured alpha(100->300) =
    1.77. The members shuffle by cell here — at scale that is the
    materialized inverted file's natural partitioning, and the shuffle
    is linear in the PROBED cells only (the join drops unprobed cells'
    blocks).

    Determinism: sims round to 4 decimals (the documented cross-engine
    absorption class — dgemm vs the oracle's sequential fold differ by
    ~1 ulp), member sub-tiles are nid-ascending and every merge orders
    by (sim DESC, nid ASC), so the union of partial top-ks contains
    exactly the global top-k the final window selects with the same
    comparator. Self-pairs (qid == nid) are masked before selection."""
    qb = _cell_rank_blocks(probe_q, "qid", "__q", "__qids", "__qflat")
    mb = _cell_rank_blocks(members, "nid", "__v", "__nids", "__nflat")
    tile = COSINE_TILE

    def search(batches):
        import numpy as np
        import pandas as pd

        PAD_ID = np.iinfo(np.int64).max
        for pdf in batches:
            out = []
            for qids_r, qflat_r, nids_r, nflat_r in zip(
                pdf["__qids"], pdf["__qflat"], pdf["__nids"], pdf["__nflat"]
            ):
                qids, Q, nq = _VK.decode(qids_r, qflat_r)
                nids, M, nm = _VK.decode(nids_r, nflat_r)
                for i0 in range(0, len(qids), tile):
                    i1 = i0 + tile
                    qs, qv, qn = qids[i0:i1], Q[i0:i1], nq[i0:i1]
                    run_s = np.full((len(qs), k), -np.inf)
                    run_i = np.full((len(qs), k), PAD_ID, np.int64)
                    for j0 in range(0, len(nids), tile):
                        j1 = j0 + tile
                        sims = np.round(_VK.cosine(qv, qn, M[j0:j1], nm[j0:j1]), 4)
                        sims[qs[:, None] == nids[None, j0:j1]] = -np.inf
                        run_s, run_i = _VK.topk(run_s, run_i, sims, nids[j0:j1], k)
                    valid = (run_s > -np.inf).ravel()
                    if valid.any():
                        out.append(
                            pd.DataFrame(
                                {
                                    "qid": np.repeat(qs, k)[valid],
                                    "nid": run_i.ravel()[valid],
                                    "sim": run_s.ravel()[valid],
                                }
                            )
                        )
            if out:
                yield pd.concat(out, ignore_index=True)

    cand = (
        qb.drop("__blk")
        .join(mb.drop("__blk"), "cell")
        .mapInPandas(search, schema="qid long, nid long, sim double")
    )
    w_top = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("nid").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w_top))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "sim", "rank")
    )


def ivf_topk_sql(
    table: str, id_col: str = "vec_id", vec_col: str = "embedding", k: int = 5,
    cent_sql: Optional[str] = None,
    assigned_sql: Optional[str] = None,
    probes_sql: Optional[str] = None,
) -> str:
    """Oracle for ivf_topk. ``cent_sql`` overrides the centroid source
    (default: the deterministic stride subset over the canonical corpus)
    — the k-means registry entry passes a ``read_parquet`` over the
    centroid table the Spark query materialized, so the iterative
    refinement itself never has to be replayed in SQL; only the probe +
    search is re-derived. ``assigned_sql`` does the same for the CELL
    ASSIGNMENT (columns nid, __v, cell): registry entries pass a
    read_parquet over the materialized (nid, cell) index joined back to
    ``ec`` for vectors, so the GEMM argmax is never replayed in SQL and
    a BLAS near-tie cannot split the engines (assign_cells DETERMINISM).
    The default replays the assignment with the sequential-fold cosine —
    valid on corpora without near-tied centroid pairs.

    ``ec`` is the canonical dup-collapsed corpus (``_canonical_sql``):
    centroid selection, assignment, and the probe query set all read it,
    mirroring the Spark side's canonical_vectors contract; only the
    stride SIZING counts raw ``e`` rows (like the Spark count())."""
    if cent_sql is None:
        cent_sql = (
            f"SELECT id AS cid, __v AS __cent FROM ec, {_adaptive_stride_sql('e')} "
            f"WHERE id % st = 0"
        )
    if assigned_sql is None:
        assigned_sql = f"""SELECT id AS nid, __v, cid AS cell FROM (
    SELECT ec.id, ec.__v, cent.cid,
           row_number() OVER (PARTITION BY ec.id
             ORDER BY {VEC.cosine('ec.__v', 'cent.__cent', 'duckdb')} DESC, cent.cid ASC) AS rn
    FROM ec CROSS JOIN cent) WHERE rn = 1"""
    if probes_sql is None:
        # default: replay probe selection with the SQL fold — valid on
        # corpora without near-tied centroid pairs; registry entries
        # pass a read_parquet over the materialized probe table instead
        # (probe_cells DETERMINISM)
        probes_sql = f"""SELECT id AS qid, __v AS __q, cid AS cell FROM (
    SELECT ec.id, ec.__v, cent.cid,
           row_number() OVER (PARTITION BY ec.id
             ORDER BY {VEC.cosine('ec.__v', 'cent.__cent', 'duckdb')} DESC, cent.cid ASC) AS rn
    FROM ec CROSS JOIN cent WHERE ec.id % {IVF_QUERY_STRIDE} = 0) WHERE rn <= {IVF_NPROBE}"""
    return f"""
WITH e AS (SELECT {id_col} AS id, {vec_col} AS __v FROM {table}),
ec AS ({_canonical_sql('e')}),
cent AS ({cent_sql}),
assigned AS ({assigned_sql}),
probes AS ({probes_sql})
SELECT qid, nid, sim, rank FROM (
  SELECT p.qid, a.nid, round({VEC.cosine('p.__q', 'a.__v', 'duckdb')}, 4) + 0.0 AS sim,
         row_number() OVER (PARTITION BY p.qid
           ORDER BY round({VEC.cosine('p.__q', 'a.__v', 'duckdb')}, 4) DESC, a.nid ASC) AS rank
  FROM probes p JOIN assigned a ON p.cell = a.cell AND p.qid != a.nid
) WHERE rank <= {k}
"""


def quantized_index(assigned: DataFrame, vec_col: str = "__v") -> DataFrame:
    """(nid, __qv array<tinyint>, cell) — the int8-QUANTIZED inverted
    file: the cell assignment's float vectors symmetrically quantized to
    one byte per component (``_quantize_exprs``), which is the actual
    memory claim of quantized search — the index a 1000-executor search
    fleet holds resident is 1/8th the float64 corpus, and the float
    corpus is not needed again after indexing. Per-vector scales are NOT
    stored: they cancel out of the integer cosine (see ``_int_cosine``),
    so the index is self-contained for similarity search."""
    scale, quant = _quantize_exprs(vec_col, "spark", width="tinyint")
    return (
        assigned.withColumns({"__qscale": F.expr(scale)})
        .withColumns({"__qv": F.expr(quant)})
        .select("nid", "__qv", "cell")
    )


def dequant_expr(col: str = "__qv") -> str:
    """Spark expr casting an int8 index vector back to array<double> for
    the GEMM kernels. The values stay the exact integers — dim 64 at
    |q| <= 127 keeps every dot product below 2^21, so float GEMM over
    these is integer-exact and bitwise equal to DuckDB's integer fold."""
    return f"transform({col}, x -> cast(x as double))"


def ivf_topk_quantized(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    centroids: Optional[DataFrame] = None,
    assigned_q: Optional[DataFrame] = None,
    probes: Optional[DataFrame] = None,
) -> DataFrame:
    """IVF top-k over the int8-quantized inverted file — the scale path
    that replaces ``quantized_topk``'s broadcast-query quadratic: cell
    geometry and probe selection are the float IVF machinery (coarse
    quantizer stays float, IVF-PQ style), but everything the SEARCH
    touches — member vectors AND query vectors — is the quantized index,
    so the resident working set is 1/8th the float corpus and the sim is
    the same integer-dot cosine ``quantized_topk`` defines. The search
    is the float IVF kernel (``_ivf_block_search``) over the dequantized
    vectors: int8 values cast to double are exact in BLAS
    GEMM (dim 64, |q| <= 127 -> dots < 2^21), so no separate quantized
    kernel exists to drift.

    ``assigned_q`` injects a materialized (nid, __qv, cell) index (see
    ``quantized_index``); ``probes`` a materialized (qid, cell) table.
    Registry entries materialize both so the DuckDB oracle verifies
    against the same bytes (assign_cells/probe_cells DETERMINISM).

    Recall rides the same nprobe dial as ``ivf_topk``: ~nprobe/K on
    unclustered data (measured: 0.248 at the default nprobe=2, 0.943 at
    nprobe=24 — IVF_NPROBE note / SCALE.md curve) — size it to your
    corpus geometry before deploying.
    """
    corpus = ensure_parallelism(corpus)
    if assigned_q is None:
        assigned_q = quantized_index(
            assign_cells(corpus, id_col, vec_col, centroids).select(
                "nid", "__v", "cell"
            )
        )
    dq = assigned_q.select(
        "cell", "nid", F.expr(dequant_expr("__qv")).alias("__qd")
    )
    if probes is None:
        probes = probe_cells(
            corpus,
            id_col,
            vec_col,
            centroids=centroids,
            queries_from=dq.select("nid", F.col("__qd").alias("__v")),
        )
    return _ivf_block_search(
        probes.select("qid", "cell").join(
            dq.select(F.col("nid").alias("qid"), F.col("__qd").alias("__q")),
            "qid",
        ),
        dq.select("cell", "nid", F.col("__qd").alias("__v")),
        k,
    )


def ivf_topk_quantized_sql(
    qassigned_sql: str, probes_sql: str, k: int = 5
) -> str:
    """Oracle for ivf_topk_quantized: integer-dot cosine over the probed
    cells of the materialized quantized index. Both CTE sources are
    required read_parquet frames over the bytes the Spark twin wrote —
    the quantization, assignment, and probe selection are never replayed
    in SQL, so a BLAS near-tie cannot split the engines. ``qassigned_sql``
    must yield (nid, __qv DOUBLE[], cell); ``probes_sql`` (qid, __qa
    DOUBLE[], cell), typically a join of the probe table back to the
    assigned CTE for the query vectors."""
    sim = _int_cosine("p.__qa", "a.__qv", "duckdb")
    return f"""
WITH assigned AS ({qassigned_sql}),
probes AS ({probes_sql})
SELECT qid, nid, sim, rank FROM (
  SELECT p.qid, a.nid, round({sim}, 4) + 0.0 AS sim,
         row_number() OVER (PARTITION BY p.qid
           ORDER BY round({sim}, 4) DESC, a.nid ASC) AS rank
  FROM probes p JOIN assigned a ON p.cell = a.cell AND p.qid != a.nid
) WHERE rank <= {k}
"""


#: SemDeDup duplicate threshold: a vector is dropped when some LOWER-ID
#: member of its cluster sits within this cosine. 0.4 sits between the
#: exact-pairs entries' 0.45/0.35 operating points and flags a non-trivial
#: slice of the fixture at every sf (17/22/132 at sf 0.001/0.01/0.1).
SEMDEDUP_EPS = 0.4


def semdedup_dropped(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = SEMDEDUP_EPS,
    centroids: Optional[DataFrame] = None,
    dim: Optional[int] = None,
    assigned: Optional[DataFrame] = None,
) -> DataFrame:
    """Semantic deduplication a la SemDeDup (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space coarsely, then find
    near-duplicates ONLY within each cluster — the trick that turns an
    O(n^2) corpus-wide pair search into K independent per-cluster blocks.

    Survivor policy is the repo's id-greedy convention (same as exact
    dedup's min-id survivor): a vector is DROPPED iff some lower-id
    member of its cluster is within ``eps`` cosine. This single-pass
    rule is deterministic and exactly SQL-expressible; transitive group
    consolidation is a separate concern covered by dedup_clusters'
    connected components. Returns the dropped set:
    (vec_id, cell, n_dups, max_sim) where n_dups counts qualifying
    lower-id cluster-mates and max_sim is the best of their cosines.

    Plan shape at 100 TB: assignment is ``assign_cells`` (centroids
    broadcast, corpus never shuffled, one argmax row per vector); the
    only shuffle co-locates each cluster — but keyed on (cell, block),
    not cell alone: every cell is sub-split into id-range BLOCKS of at
    most ``COSINE_SHIP_TILE`` vectors, each block aggregated into one
    bounded (ids, flat matrix) row, and the cell's pair space covered by
    the upper triangle of block pairs via a self-join on cell — the same
    tile-join shape as ``cosine_pairs``, with the GEMM walking
    ``COSINE_TILE``-sized sub-tiles inside each task. Each task
    therefore holds at most TWO shipped blocks plus one COSINE_TILE^2
    sim submatrix no matter how the embedding geometry clusters, so a
    degenerate giant cell (one dominant boilerplate cluster — the thing
    a crawl corpus actually produces, and which no probabilistic
    bucket-size argument bounds the way bits-per-band bounds LSH
    buckets) costs more TASKS, never more memory per task. A mega-cell's block pairs do concentrate in that
    cell's join partition; the session enables AQE skew-join splitting,
    which subdivides an oversized partition at runtime, so the extra
    tasks actually spread across executors instead of serializing in
    one. Unlike the LSH path no cross-band dedup groupBy is needed:
    (cell, block-pair) blocks partition the pair space, so each pair is
    scored exactly once.
    """
    # malformed vectors (null / wrong length) would kill the block GEMM's
    # np.stack — pass dim to exclude them before assignment so neither
    # the centroid stride subset nor any block can contain one (opt-in:
    # the blocks themselves are dim-agnostic). ``assigned`` injects a
    # materialized (nid, __v, __nv, cell) index like ivf_topk's.
    if dim is not None:
        corpus = well_formed_vectors(corpus, vec_col, dim)
    if assigned is None:
        assigned = assign_cells(corpus, id_col, vec_col, centroids)
    # Blocks ship as FLAT PRIMITIVE ARRAYS (``_cell_rank_blocks``: ids +
    # row-major flattened matrix, split out of the collect_list
    # JVM-side, so Arrow hands the Python side two contiguous buffers
    # per block), and the SHIPPED unit is COSINE_SHIP_TILE wide while
    # the GEMM inside each task sub-tiles at COSINE_TILE: the join
    # re-ships every block once per partner block, and that shuffle
    # amplification (not the GEMM — ~3 s of sgemm at the x100 point)
    # measured as the verify's dominant cost with COSINE_TILE-sized
    # shipping. float32 -> float64 stays exact, matching the oracle's
    # ::DOUBLE[] cast.
    # Blocks are id-ranges WITHIN the cell (rank over nid), not global
    # nid ranges: a cell's members are scattered across the whole id
    # space, so floor(nid / SHIP_TILE) blocking puts ~n/SHIP_TILE
    # mostly-tiny blocks in every cell and the self-join's payload
    # re-shipping goes QUADRATIC in corpus size (measured at the x300
    # probe point, 600k vectors: ~160 GB shuffled, verify 344 s; SCALE.md
    # round-11 session 2). Rank blocking gives ceil(m / SHIP_TILE)
    # blocks per cell — shipping linear in m — and preserves the
    # property the diagonal skip and the cross-block id filter rely on:
    # within a cell, every id in block k is smaller than every id in
    # block k+1.
    base = _cell_rank_blocks(assigned, "nid", "__v", "__ids", "__flat")
    a = base.select(
        "cell",
        F.col("__blk").alias("ba"),
        F.col("__ids").alias("ids_a"),
        F.col("__flat").alias("flat_a"),
    )
    b = base.select(
        F.col("cell").alias("cell_b"),
        F.col("__blk").alias("bb"),
        F.col("__ids").alias("ids_b"),
        F.col("__flat").alias("flat_b"),
    )
    block_pairs = a.join(
        b, (F.col("cell") == F.col("cell_b")) & (F.col("ba") <= F.col("bb"))
    )

    # REDUCE, never emit, the pair stream: this operator's output is the
    # per-vector aggregate (n_dups, max_sim), so qualifying pairs fold
    # into per-id_b partials INSIDE each task (``_VK.reduce_tile``) and a
    # block pair emits at most |ids_b| partial rows — the map-side-
    # combine shape. One row per qualifying PAIR is quadratic in
    # duplicate-group size: at the x300 probe point (2000 base vectors x
    # 300 near-identical replicas, the boilerplate-cluster shape) ~90M
    # pairs qualify, and gathering survivor rows, building pandas pair
    # frames and shuffling them took 344 s of a 280-380 s entry (SCALE.md
    # round-11 session 2). Dense tiles additionally skip the survivor
    # gather entirely (see DENSE_TILE_FRACTION).
    tile = COSINE_TILE

    def reduce_block(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for cell, same, ids_ra, flat_ra, ids_rb, flat_rb in zip(
                pdf["cell"], pdf["ba"] == pdf["bb"],
                pdf["ids_a"], pdf["flat_a"],
                pdf["ids_b"], pdf["flat_b"],
            ):
                ids_a, mat_a, na = _VK.decode(ids_ra, flat_ra)
                ids_b, mat_b, nb = _VK.decode(ids_rb, flat_rb)
                a32, b32 = mat_a.astype(np.float32), mat_b.astype(np.float32)
                cnt = np.zeros(len(ids_b), np.int64)
                msim = np.full(len(ids_b), -np.inf)
                for sa, sb in _VK.tiles(len(ids_a), len(ids_b), tile, same):
                    _VK.reduce_tile(
                        mat_a[sa], na[sa], mat_b[sb], nb[sb], eps,
                        a32[sa], b32[sb], ids_a[sa], ids_b[sb],
                        cnt, msim, sb.start,
                    )
                upd = cnt > 0
                if upd.any():
                    out.append(
                        pd.DataFrame(
                            {
                                "cell": np.full(
                                    int(upd.sum()), np.int64(cell)
                                ),
                                "id_b": ids_b[upd],
                                "cnt": cnt[upd],
                                "msim": msim[upd],
                            }
                        )
                    )
            if out:
                yield pd.concat(out, ignore_index=True)

    return (
        block_pairs.mapInPandas(
            reduce_block, schema="cell long, id_b long, cnt long, msim double"
        )
        .groupBy("id_b", "cell")
        .agg(
            F.sum("cnt").alias("n_dups"),
            F.max("msim").alias("max_sim"),
        )
        .select(
            F.col("id_b").alias("vec_id"), "cell", "n_dups", "max_sim"
        )
    )


def semdedup_sql(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = SEMDEDUP_EPS,
    *,
    dim: int,
    assigned_sql: Optional[str] = None,
) -> str:
    """DuckDB twin of semdedup_dropped: identical stride centroids over
    the canonical dup-collapsed corpus (``_canonical_sql``), identical
    (cosine DESC, cid ASC) assignment tie-break as ivf_topk_sql, pair
    scoring replayed as a within-cell self-join. ``dim`` is REQUIRED
    for the same reason as in cosine_pairs_sql — the Spark twin defaults
    to no length filter, so a defaulted filter here would silently
    diverge on any non-64-dim corpus. ``assigned_sql`` (columns id, __v,
    cell) injects the materialized GEMM assignment like ivf_topk_sql's —
    the registry entry passes a read_parquet join so the argmax is never
    replayed in SQL."""
    if assigned_sql is None:
        assigned_sql = f"""SELECT id, __v, cid AS cell FROM (
    SELECT ec.id, ec.__v, cent.cid,
           row_number() OVER (PARTITION BY ec.id
             ORDER BY {VEC.cosine('ec.__v', 'cent.__cent', 'duckdb')} DESC, cent.cid ASC) AS rn
    FROM ec CROSS JOIN cent) WHERE rn = 1"""
    return f"""
WITH e AS (SELECT {id_col} AS id, ({vec_col})::DOUBLE[] AS __v FROM {table}
           WHERE {well_formed_sql(vec_col, dim)}),
ec AS ({_canonical_sql('e')}),
cent AS (SELECT id AS cid, __v AS __cent FROM ec, {_adaptive_stride_sql('e')} WHERE id % st = 0),
assigned AS ({assigned_sql}),
pairs AS (
  SELECT a.cell, a.id AS id_a, b.id AS id_b,
         round({VEC.cosine('a.__v', 'b.__v', 'duckdb')}, 4) + 0.0 AS sim
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.id < b.id)
SELECT id_b AS vec_id, cell, count(*) AS n_dups, max(sim) AS max_sim
FROM pairs WHERE sim >= {eps}
GROUP BY id_b, cell
"""
