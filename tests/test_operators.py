"""Unit tests for dedup / similarity / text-analysis / multimodal operators
on small in-memory frames with hand-checkable expectations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polario_spark.functions import text
from polario_spark.operators import dedup, multimodal, similarity, text_analysis


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "en"),
            (2, "the quick brown fox jumps over the lazy cat", "en"),
            (3, "dog lazy the over jumps fox brown quick the", "en"),  # permuted #1
            (4, "completely different words entirely here now", "en"),
            (5, "der schnelle braune fuchs springt", "de"),
        ],
        schema="doc_id long, text string, lang string",
    )


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(3, "k1"), (1, "k1"), (2, "k2")], schema="id long, k string"
    )
    kept = dedup.exact_dedup(df, ["k"], "id").collect()
    assert sorted((r.k, r.id) for r in kept) == [("k1", 1), ("k2", 2)]


def test_content_fingerprint_order_insensitive(docs):
    fp = dedup.content_fingerprint(docs, "text").select("doc_id", "fingerprint")
    rows = {r.doc_id: r.fingerprint for r in fp.collect()}
    # doc 3 is a word permutation of doc 1 => same token set => same fingerprint
    assert rows[1] == rows[3]
    assert rows[1] != rows[4]


def test_minhash_identical_docs_are_candidates(docs):
    sig = dedup.minhash_signatures(docs, "doc_id", "text")
    sigs = {r.doc_id: [r[f"mh{i}"] for i in range(dedup.MINHASH_K)] for r in sig.collect()}
    # doc 3 has the same bigram set as... actually permutation changes
    # bigrams; docs 1 and 2 share 7 of 8 bigrams -> most minhashes equal
    agree = sum(a == b for a, b in zip(sigs[1], sigs[2]))
    assert agree >= dedup.MINHASH_K // 2
    pairs = dedup.minhash_candidate_pairs(sig, "doc_id").collect()
    assert all(p.id_a < p.id_b for p in pairs)


def test_simhash_similar_docs_close(docs):
    sh = {r.doc_id: r.simhash for r in dedup.simhash(docs, "doc_id", "text").collect()}
    # permuted doc has identical distinct-token set => identical simhash
    assert sh[1] == sh[3]
    assert 0 <= sh[1] < 2**32
    # unrelated doc differs
    assert sh[1] != sh[4]


def test_ngram_jaccard_pairs(docs):
    pairs = similarity.ngram_jaccard_pairs(
        docs, "doc_id", "text", ("lang",), threshold=0.5
    ).collect()
    found = {(p.id_a, p.id_b): p.jaccard for p in pairs}
    # docs 1 & 2 share 7/9 distinct bigrams => jaccard ~0.78
    assert (1, 2) in found and found[(1, 2)] > 0.7
    # doc 4 shares nothing
    assert not any(4 in p for p in found)


def test_brute_force_topk(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.01]),
            (2, [0.0, 1.0]),
            (3, [-1.0, 0.0]),
        ],
        schema="vec_id long, embedding array<float>",
    )
    out = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), "vec_id", "embedding", k=2
    ).collect()
    ranked = [(r.nid, r.rank) for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [(1, 1), (2, 2)]  # closest first, deterministic


def test_doc_metrics(docs):
    m = text_analysis.doc_metrics(docs, "text").filter(F.col("doc_id") == 1).first()
    assert m.n_tokens == 9
    assert m.n_distinct == 8  # 'the' twice
    assert m.stopword_ratio == round(2 / 9, 4)


def test_predicted_lang(spark, docs):
    pred = docs.select(
        "doc_id",
        F.expr(text_analysis.predicted_lang_expr("text", "spark")).alias("p"),
    )
    rows = {r.doc_id: r.p for r in pred.collect()}
    assert rows[1] == "en"  # 'the' x2
    assert rows[5] == "de"  # 'der'
    assert rows[4] == "und"  # no markers


def test_multimodal_feature_plumbing(docs):
    feats = multimodal.extract_binary_features(
        multimodal.with_binary_payload(docs, "text"), "doc_id"
    )
    rows = {r.doc_id: r for r in feats.collect()}
    assert rows[1].byte_len == len("the quick brown fox jumps over the lazy dog")
    assert rows[1].first_byte == ord("t")
    assert rows[1].ascii_ratio == 1.0


def test_decode_image_is_stubbed(docs):
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(docs)


def test_connected_components(spark):
    # two components: {1,2,3,4} via a chain (diameter 3, needs >1 round)
    # and {10, 11}; min-id labels expected
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    comp = {r.node: r.component for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain(spark):
    """Diameter-adversary probe: a 200-link chain (successively-shifted
    near-dups A~B~C~... produce exactly this graph shape). Edge
    propagation alone moves the min label ONE hop per round, so the old
    diameter-bound loop silently returned unconverged (wrong) labels once
    diameter > max_iterations; the pointer-jump step makes convergence
    O(log diameter), so 200 hops fit comfortably in far fewer than the
    default 25 rounds — pinned here with an explicit budget of 12
    (2^12 >> 200, log2(200) ~ 7.6)."""
    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    comp = {
        r.node: r.component
        for r in dedup.connected_components(pairs, max_iterations=12).collect()
    }
    assert comp == {i: 0 for i in range(n + 1)}


def test_connected_components_raises_when_unconverged(spark):
    """An unconverged label frame is a wrong answer — the loop must raise,
    never return it. max_iterations=1 cannot finish a diameter-4 chain
    (the convergence-confirming round alone needs a second pass)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iterations=1)


def test_quality_filter_flags(spark):
    short_doc = "one two three"  # fails pass_len (3 tokens)
    repetitive = " ".join(["spam"] * 40)  # fails diversity + top_freq
    good = " ".join(f"word{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short_doc), (2, repetitive), (3, good)], "doc_id long, text string"
    )
    flags = text_analysis.filter_flag_exprs("text", "spark")
    out = df.select(
        "doc_id", *[F.expr(e).alias(n) for n, e in flags.items()]
    )
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].pass_len == 0
    assert rows[2].pass_diversity == 0 and rows[2].pass_top_freq == 0
    assert all(
        getattr(rows[3], n) == 1 for n in flags
    )


def test_top_freq_sorted_run_matches_quadratic(spark):
    """The sorted-run top-freq flag must be extensionally equal to the
    O(|distinct| x |tokens|) transform/filter form, including NULL on a
    zero-token document — ``aggregate`` over an empty array returns its
    init value 0 where ``array_max([])`` is NULL, and a NULL flag must
    stay NULL so an empty doc never counts as passing."""
    import random

    rng = random.Random(8)
    vocab = [f"w{i}" for i in range(12)]
    docs = [(i, " ".join(rng.choices(vocab, k=rng.randrange(0, 60)))) for i in range(200)]
    docs += [(1000, ""), (1001, "   .,;")]  # tokenize to empty arrays
    df = spark.createDataFrame(docs, "doc_id long, text string")
    new = text_analysis.filter_flag_exprs("text", "spark")["pass_top_freq"]
    toks = text.tokens("text", "spark")
    dtoks = text.distinct_tokens("text", "spark")
    old = (
        f"cast((array_max(transform({dtoks}, t -> size(filter({toks}, x -> x = t)))))"
        f" * 5 <= size({toks}) as int)"
    )
    bad = df.selectExpr(
        "doc_id", f"{new} as new_flag", f"{old} as old_flag"
    ).filter("new_flag is distinct from old_flag")
    assert bad.count() == 0
    empties = df.filter("doc_id >= 1000").selectExpr(f"{new} as f").collect()
    assert all(r.f is None for r in empties)


def test_top_freq_histogram_matches_quadratic_duckdb():
    """The DuckDB oracle's top-freq flag (max of the token histogram)
    must equal the O(|distinct| x |tokens|) list_transform/list_filter
    form it replaced, including NULL on a zero-token document."""
    import random

    import duckdb

    rng = random.Random(8)
    vocab = [f"w{i}" for i in range(12)]
    docs = [(i, " ".join(rng.choices(vocab, k=rng.randrange(0, 60)))) for i in range(200)]
    docs += [(1000, ""), (1001, "   .,;")]  # tokenize to empty arrays
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", docs)
    new = text_analysis.filter_flag_exprs("text", "duckdb")["pass_top_freq"]
    toks = text.tokens("text", "duckdb")
    dtoks = text.distinct_tokens("text", "duckdb")
    old = (
        f"((list_max(list_transform({dtoks}, "
        f"t -> len(list_filter({toks}, x -> x = t))))) * 5 <= len({toks}))::INT"
    )
    bad = con.sql(
        f"SELECT doc_id FROM d WHERE ({new}) IS DISTINCT FROM ({old})"
    ).fetchall()
    assert bad == []
    empties = con.sql(f"SELECT {new} FROM d WHERE doc_id >= 1000").fetchall()
    assert empties == [(None,), (None,)]


def test_zorder_tightens_file_ranges(spark, tmp_path):
    """Z-order layout: writing lineitem clustered by the Morton key of
    (l_orderkey, l_partkey) must shrink the average per-file min/max span
    on BOTH columns versus round-robin layout — the property parquet
    min/max skipping prunes on. A single-column sort could only tighten
    one of the two."""
    import pyarrow.parquet as pq
    from pathlib import Path

    from polario_spark.functions.zorder import zorder_frame

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )

    def avg_spans(path: str) -> dict[str, float]:
        spans = {"l_orderkey": [], "l_partkey": []}
        for f in Path(path).glob("*.parquet"):
            meta = pq.ParquetFile(f).metadata
            lo = {c: None for c in spans}
            hi = {c: None for c in spans}
            for rg in range(meta.num_row_groups):
                group = meta.row_group(rg)
                for i in range(group.num_columns):
                    col = group.column(i)
                    name = col.path_in_schema
                    if name in spans:
                        st = col.statistics
                        lo[name] = st.min if lo[name] is None else min(lo[name], st.min)
                        hi[name] = st.max if hi[name] is None else max(hi[name], st.max)
            for c in spans:
                spans[c].append(hi[c] - lo[c])
        return {c: sum(v) / len(v) for c, v in spans.items()}

    base = str(tmp_path / "plain")
    # round-robin spread: every file sees the full key range
    li.repartition(8).write.parquet(base)
    zdf = zorder_frame(li, ["l_orderkey", "l_partkey"])
    zpath = str(tmp_path / "zorder")
    zdf.repartitionByRange(8, "__zkey").sortWithinPartitions("__zkey").drop(
        "__zkey"
    ).write.parquet(zpath)

    plain, z = avg_spans(base), avg_spans(zpath)
    assert z["l_orderkey"] < plain["l_orderkey"] * 0.6, (plain, z)
    assert z["l_partkey"] < plain["l_partkey"] * 0.6, (plain, z)


def test_null_and_empty_text_robustness(spark):
    """Real corpora carry null/empty/short documents; every text operator
    must stay total over them. Contract: docs with no extractable
    shingles/windows simply produce no dedup candidates (they can never
    be near-dups); fingerprint propagates null (consistent with SQL md5
    semantics, so oracle parity holds); per-doc metrics stay one row per
    input doc."""
    df = spark.createDataFrame(
        [
            (1, "hello world foo bar baz", "en"),
            (2, None, "en"),
            (3, "", "de"),
            (4, "short", None),
        ],
        "doc_id long, text string, lang string",
    )
    sigs = dedup.minhash_signatures(df, "doc_id", "text")
    assert sigs.count() == 1  # only the real document signs
    fp = dedup.content_fingerprint(df, "text")
    assert fp.count() == 4
    assert fp.filter("doc_id = 2").first()["fingerprint"] is None
    sh = dedup.simhash(df, "doc_id", "text")
    assert sh.filter(F.col("doc_id").isNull()).count() == 0
    assert dedup.rolling_window_pairs(df, "doc_id", "text").count() == 0
    metrics = text_analysis.doc_metrics(df)
    assert metrics.count() == 4


def test_morton_key_3_and_4_dims_ordering(spark):
    """Morton keys must stay in [0, 2^63) for every supported ndim (a
    16-bit-per-dim interleave at ndim=4 would spill bucket bit 15 of the
    4th column into the sign bit, producing negative keys that sort
    before all positive ones), and must be monotone under coordinate
    dominance: a row <= another in EVERY dimension never gets the larger
    key. Exercises the 3- and 4-dim generic spread path the 2-dim
    magic-constant test misses."""
    from polario_spark.functions.zorder import zorder_frame

    rows = [
        (i, float(a), float(b), float(c), float(d))
        for i, (a, b, c, d) in enumerate(
            (a, b, c, d)
            for a in (0, 9, 99)
            for b in (0, 50, 99)
            for c in (0, 99)
            for d in (0, 99)
        )
    ]
    df = spark.createDataFrame(
        rows, "id long, a double, b double, c double, d double"
    )
    for cols in (["a", "b", "c"], ["a", "b", "c", "d"]):
        keyed = {
            r["id"]: r["__zkey"]
            for r in zorder_frame(df, cols).select("id", "__zkey").collect()
        }
        assert all(0 <= k < 2**63 for k in keyed.values()), cols
        coords = {t[0]: t[1 : 1 + len(cols)] for t in rows}
        for i, ci in coords.items():
            for j, cj in coords.items():
                if i != j and all(x <= y for x, y in zip(ci, cj)):
                    assert keyed[i] <= keyed[j], (cols, ci, cj)


def test_cosine_pairs_bucketed_degenerate_bucket_is_tiled(spark, monkeypatch):
    """A boilerplate corpus collapsing into ONE (band, sig) bucket — the
    known LSH worst case — must still verify correctly with the per-task
    GEMM bounded at COSINE_TILE: shrink the tile so the bucket spans
    several tiles and assert every id_a < id_b pair is emitted exactly
    once with its exact cosine. Two all-zero vectors ride along to pin
    the zero-norm clamp (they must pair with nothing, not NaN)."""
    monkeypatch.setattr(similarity, "COSINE_TILE", 64)
    n = 200
    base = [1.0] + [0.0] * 63
    rows = [(i, base) for i in range(n)]
    rows += [(n, [0.0] * 64), (n + 1, [0.0] * 64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = (
        similarity.cosine_pairs_bucketed(emb, "vec_id", "embedding", 0.45)
        .groupBy()
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("id_a", "id_b").alias("n_distinct"),
            F.min("sim").alias("min_sim"),
            F.max("sim").alias("max_sim"),
        )
        .collect()[0]
    )
    assert got.n_pairs == n * (n - 1) // 2, got
    assert got.n_distinct == got.n_pairs, "pair emitted more than once"
    assert got.min_sim == got.max_sim == 1.0, got


def test_repetition_exprs_edge_cases(spark):
    """Hand-computed repetition signals on edge docs: empty text (all
    fractions 0, not NaN/divide-by-zero), a doc shorter than the n-gram
    width (empty shingle set -> 0), and a fully repetitive doc."""
    rows = [
        (1, ""),  # empty: every denominator is 0
        (2, "one two"),  # 2 tokens: no trigrams exist
        (3, "spam spam spam spam"),  # 1 distinct token of 4
        (4, "a b\na b\nc d"),  # 3 lines, one duplicated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in text_analysis.repetition_frame(df, "text").collect()
    }
    assert got[1]["n_lines"] == 0 and got[1]["dup_line_frac"] == 0.0
    assert got[1]["dup_trigram_frac"] == 0.0
    assert got[2]["dup_trigram_frac"] == 0.0  # no trigrams, guarded
    assert got[2]["dup_token_frac"] == 0.0
    assert got[3]["dup_token_frac"] == 0.75  # 4 tokens, 1 distinct
    assert got[3]["dup_bigram_frac"] == round(2 / 3, 4)  # 3 shingles, 1 kind
    assert got[4]["n_lines"] == 3
    assert got[4]["dup_line_frac"] == round(1 / 3, 4)


def test_quantized_topk_recall_vs_exact(spark):
    """int8 quantization on 64-dim embeddings loses little ranking
    signal: quantized top-5 must recover >= 80% of the exact float
    top-5 pairs on the fixture, with identical output shape."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r.qid, r.nid)
        for r in similarity.brute_force_topk(
            emb,
            emb.filter(F.col("vec_id") % similarity.IVF_QUERY_STRIDE == 0),
            "vec_id",
            "embedding",
            5,
        ).collect()
    }
    quant = {
        (r.qid, r.nid)
        for r in similarity.quantized_topk(emb, "vec_id", "embedding", 5).collect()
    }
    assert exact
    recall = len(quant & exact) / len(exact)
    assert recall >= 0.8, recall


def test_chunk_documents_geometry(spark):
    """Chunk geometry edge cases: empty doc (0 chunks), short doc (1 chunk
    of its own length), exact-chunk-size doc (1 chunk), and one chunk
    past the boundary (overlap stride: second chunk starts at token 41
    and holds the remaining tokens)."""
    C, S = text_analysis.CHUNK_TOKENS, text_analysis.CHUNK_STRIDE
    rows = [
        (1, ""),
        (2, "a b c"),
        (3, " ".join(f"t{i}" for i in range(C))),
        (4, " ".join(f"t{i}" for i in range(C + 1))),
        (5, " ".join(f"t{i}" for i in range(2 * S + C))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in text_analysis.chunk_documents(df, "text").collect():
        got.setdefault(r.doc_id, []).append((r.chunk_id, r.n_chunk_tokens))
    assert 1 not in got  # empty doc yields no chunks
    assert got[2] == [(0, 3)]
    assert got[3] == [(0, C)]
    assert sorted(got[4]) == [(0, C), (1, C + 1 - S)]
    # 2S + C tokens: starts 1, 1+S, 1+2S — each window still holds C tokens
    assert sorted(got[5]) == [(0, C), (1, C), (2, C)]


def test_ivf_kmeans_centroids_deterministic_and_recall(spark):
    """Lloyd-refined IVF must be reproducible (stride init, no RNG) and
    at least match the un-refined stride path's recall against the exact
    top-k scan — refinement may only tighten cells, never degrade below
    the baseline it initializes from (on this fixture)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r.qid, r.nid)
        for r in similarity.brute_force_topk(
            emb,
            emb.filter(F.col("vec_id") % similarity.IVF_QUERY_STRIDE == 0),
            "vec_id",
            "embedding",
            5,
        ).collect()
    }
    cent = similarity.kmeans_centroids(emb, "vec_id", "embedding", iters=2)
    run1 = sorted(
        tuple(r)
        for r in similarity.ivf_topk(
            emb, "vec_id", "embedding", 5, centroids=cent
        ).collect()
    )
    run2 = sorted(
        tuple(r)
        for r in similarity.ivf_topk(
            emb,
            "vec_id",
            "embedding",
            5,
            centroids=similarity.kmeans_centroids(
                emb, "vec_id", "embedding", iters=2
            ),
        ).collect()
    )
    assert run1 == run2, "k-means IVF must be deterministic run-to-run"
    stride = {
        (r.qid, r.nid)
        for r in similarity.ivf_topk(emb, "vec_id", "embedding", 5).collect()
    }
    km = {(q, n) for q, n, _, _ in run1}
    assert exact, "fixture must produce exact pairs"
    recall_km = len(km & exact) / len(exact)
    recall_stride = len(stride & exact) / len(exact)
    assert recall_km >= recall_stride - 1e-9, (recall_km, recall_stride)


def test_assign_cells_gemm_matches_fold(spark, monkeypatch):
    """The GEMM assignment (round 10) must agree with the pure-JVM fold
    reference cell-for-cell on the fixture, for both the stride and the
    Lloyd-refined centroid sets. The two differ only where a BLAS-vs-fold
    summation-order ulp flips a NEAR-TIED argmax — measure-zero on
    generic float data — so any mismatch here is a real kernel bug
    (wrong tie-break direction, wrong norm clamp, an indexing error),
    not float noise. Exact ties (duplicated centroid vectors) are pinned
    separately below with a corpus built to tie exactly."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb = similarity.well_formed_vectors(emb, "embedding", 64)
    for cent in (
        None,
        similarity.kmeans_centroids(emb, "vec_id", "embedding", iters=1),
    ):
        gemm = {
            r.nid: r.cell
            for r in similarity.assign_cells(
                emb, "vec_id", "embedding", centroids=cent
            ).collect()
        }
        fold = {
            r.nid: r.cell
            for r in similarity.assign_cells_fold(
                emb, "vec_id", "embedding", centroids=cent
            ).collect()
        }
        assert gemm == fold
        assert len(gemm) == 500

    # exact-tie tie-break: two centroids with IDENTICAL vectors -> every
    # row's cosines tie bitwise, and both paths must pick the SMALLER cid;
    # a one-centroid block puts the tie across blocks (strict > update)
    rows = [(i, [float(i % 7 + 1), 1.0, -0.5]) for i in range(20)]
    tiny = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = spark.createDataFrame(
        [(3, [1.0, 2.0, 0.0]), (9, [1.0, 2.0, 0.0])],
        "cid long, __cent array<double>",
    )
    for block in (similarity.ASSIGN_CENT_BLOCK, 1):
        monkeypatch.setattr(similarity, "ASSIGN_CENT_BLOCK", block)
        for fn in (similarity.assign_cells, similarity.assign_cells_fold):
            cells = {r.nid: r.cell for r in fn(tiny, centroids=cent).collect()}
            assert set(cells.values()) == {3}, (fn.__name__, block)


def test_kmeans_partial_means_match_numpy_lloyd(spark):
    """The round-11 partial-sum Lloyd loop (per-task (cell -> sums,
    count) partials instead of an n x dim posexplode per round) must
    produce the same centroids as a straight numpy Lloyd with the same
    stride init, cosine metric, and first-max tie-break — to float-sum
    tolerance (the partial tree changes summation order vs a flat sum,
    so exact-zero delta is not required, 1e-9 is)."""
    import numpy as np

    emb = similarity.well_formed_vectors(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
        "embedding",
        64,
    )
    rows = sorted(
        (r.nid, np.asarray(r["__v"], np.float64))
        for r in similarity.canonical_vectors(emb, "vec_id", "embedding")
        .selectExpr("nid", "transform(__v, x -> cast(x as double)) as __v")
        .collect()
    )
    ids = np.array([r[0] for r in rows])
    X = np.stack([r[1] for r in rows])
    stride = similarity.adaptive_centroid_stride(len(rows))
    cid_arr = ids[ids % stride == 0]
    C = X[np.isin(ids, cid_arr)].copy()
    for _ in range(3):
        sims = (X @ C.T) / np.outer(
            np.maximum(np.linalg.norm(X, axis=1), 1e-12),
            np.maximum(np.linalg.norm(C, axis=1), 1e-12),
        )
        a = np.argmax(sims, axis=1)
        keep = np.unique(a)
        C = np.stack([X[a == i].sum(axis=0) / (a == i).sum() for i in keep])
        cid_arr = cid_arr[keep]
    got = sorted(
        (r.cid, np.asarray(r["__cent"]))
        for r in similarity.kmeans_centroids(
            emb, "vec_id", "embedding", iters=3
        ).collect()
    )
    assert [g[0] for g in got] == sorted(cid_arr.tolist())
    ref = C[np.argsort(cid_arr)]
    for i, (_, vec) in enumerate(got):
        assert np.abs(vec - ref[i]).max() < 1e-9


def test_kmeans_partial_means_degenerate_geometries(spark):
    """Degenerate shapes for the round-11 partial-sum Lloyd loop: every
    vector in ONE cell (single centroid survives with the global mean),
    and a corpus smaller than the stride (init falls back to whatever
    ids hit stride 1). Means must equal plain numpy averages of the
    members in both cases."""
    import numpy as np

    # all 9 vectors point the same general direction -> one centroid,
    # one cell, mean = global mean
    rows = [(i, [1.0, 0.1 * i, -0.5]) for i in range(9)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = similarity.kmeans_centroids(emb, "vec_id", "embedding", iters=2)
    got = {r.cid: np.asarray(r["__cent"]) for r in cent.collect()}
    X = np.stack(
        [np.asarray(v, np.float32).astype(np.float64) for _, v in rows]
    )
    # same stride init the engine uses, then a literal numpy Lloyd
    stride = similarity.adaptive_centroid_stride(len(rows))
    cid_arr = np.array([i for i, _ in rows if i % stride == 0])
    C = X[[i for i, _ in rows if i % stride == 0]].copy()
    for _ in range(2):
        sims = (X @ C.T) / np.outer(
            np.maximum(np.linalg.norm(X, axis=1), 1e-12),
            np.maximum(np.linalg.norm(C, axis=1), 1e-12),
        )
        a = np.argmax(sims, axis=1)
        keep = np.unique(a)
        C = np.stack([X[a == i].sum(axis=0) / (a == i).sum() for i in keep])
        cid_arr = cid_arr[keep]
    assert sorted(got) == sorted(cid_arr.tolist())
    for i, cid in enumerate(np.sort(cid_arr)):
        ref = C[np.argsort(cid_arr)][i]
        assert np.abs(got[cid] - ref).max() < 1e-9


def test_assign_cells_gemm_raises_on_non_finite(spark):
    """A NaN component that slips past shedding must FAIL LOUDLY in the
    GEMM kernel (advisor r10: `NaN > best_sim` is False for every block,
    so the emitted cell would otherwise be uninitialized memory — an
    arbitrary, possibly-nonexistent centroid id, silently). The contract
    is shed-first via well_formed_vectors; this pins what happens when a
    caller forgets."""
    import pytest as _pytest

    rows = [(1, [1.0, 2.0, 3.0]), (2, [float("nan"), 1.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "cid long, __cent array<double>"
    )
    with _pytest.raises(Exception, match="non-finite"):
        similarity.assign_cells(emb, centroids=cent).collect()


def test_assign_cells_collapses_duplicate_ids(spark):
    """Duplicate ids with NON-COLINEAR vectors (the advisor's round-9
    probe: a colinear x*0.5 duplicate is cosine-invariant and can't catch
    a wrong-vector carry) must collapse to ONE canonical row — the
    lexicographically greatest vector — in both the GEMM and fold paths,
    carrying that vector's cell AND that vector's values, never a mix."""
    import numpy as np

    dim = 4
    v_lo = [0.1, 9.0, 9.0, 9.0]   # lex-smaller, points one way
    v_hi = [0.2, -9.0, 0.0, 0.0]  # lex-greater, points elsewhere
    rows = [(5, v_lo), (5, v_hi), (6, [1.0, 0.0, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = spark.createDataFrame(
        [(0, [0.0, 1.0, 1.0, 1.0]), (1, [1.0, -1.0, 0.0, 0.0])],
        "cid long, __cent array<double>",
    )
    # expected: id 5 keeps v_hi (lex max), which is closer to centroid 1
    exp_vec = np.asarray(v_hi, np.float32)
    for fn in (similarity.assign_cells, similarity.assign_cells_fold):
        got = {r.nid: r for r in fn(emb, centroids=cent).collect()}
        assert set(got) == {5, 6}, fn.__name__
        assert got[5].cell == 1, fn.__name__
        assert np.allclose(np.asarray(got[5]["__v"], np.float32), exp_vec), (
            fn.__name__
        )
        assert got[6].cell == 1, fn.__name__


def test_cosine_pairs_bucketed_subset_and_recall(spark):
    """LSH-bucketed near-dup pairs must be a subset of the exact all-pairs
    result at the same threshold (approximation lives in candidate
    generation only; every emitted sim is exact), with recall >= 0.8 at
    the registry's operating point, and the plan must be a bucket
    equi-join - no cartesian / nested-loop pair enumeration anywhere."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_pairs(emb, "vec_id", "embedding", 0.45).collect()
    }
    bucketed_df = similarity.cosine_pairs_bucketed(emb, "vec_id", "embedding", 0.45)
    plan = bucketed_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    bucketed = {(r.id_a, r.id_b) for r in bucketed_df.collect()}
    assert bucketed <= exact
    assert len(exact) > 0
    assert len(bucketed) / len(exact) >= 0.8, (len(bucketed), len(exact))


def test_semdedup_block_split_matches_unsplit(spark, monkeypatch):
    """A single giant cell — the degenerate geometry SemDeDup clustering
    can produce on boilerplate-heavy corpora — must give IDENTICAL
    results whether it fits in one block or is split across many: shrink
    COSINE_TILE so the cell spans several id-range blocks and compare
    against the unsplit run and a numpy brute-force expectation. Two
    all-zero vectors ride along to pin the zero-norm clamp (they must
    pair with nothing, not NaN).

    This is the block-cap property the round-6 verdict asked to have
    pinned: with COSINE_TILE=8 the 42-vector single cell spans 6
    id-range blocks, so the upper-triangle block-pair enumeration in
    semdedup_dropped (ba <= bb, intra- vs cross-block id filtering) is
    exercised on a cell strictly LARGER than the tile and must
    reproduce the uncapped single-block result pair-for-pair."""
    import numpy as np

    n, dim = 40, 8
    # deterministic near-duplicate geometry: vectors interpolate between
    # two anchors, so plenty of pairs clear eps and plenty don't
    vecs = []
    for i in range(n):
        t = i / (n - 1)
        v = [1.0 - t, t] + [0.1 * ((i % 5) - 2)] * (dim - 2)
        vecs.append(v)
    vecs.append([0.0] * dim)
    vecs.append([0.0] * dim)
    rows = [(i, v) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # one explicit centroid -> every vector lands in the same cell
    cent = spark.createDataFrame(
        [(7, [1.0] + [0.0] * (dim - 1))], "cid long, __cent array<double>"
    )
    eps = 0.9

    def run():
        return sorted(
            (r.vec_id, r.cell, r.n_dups, r.max_sim)
            for r in similarity.semdedup_dropped(
                emb, "vec_id", "embedding", eps, centroids=cent
            ).collect()
        )

    unsplit = run()  # SHIP/GEMM tiles >> n: one block, one diagonal pair
    monkeypatch.setattr(similarity, "COSINE_TILE", 8)
    split = run()  # one shipped unit, 6 GEMM sub-tiles (round-11 shape)
    assert split == unsplit
    # shrink the SHIPPED unit too: 3 shipped blocks x sub-tiling, which
    # exercises the diagonal-super-pair skip and the cross-unit pairs
    monkeypatch.setattr(similarity, "COSINE_SHIP_TILE", 16)
    split_shipped = run()
    assert split_shipped == unsplit
    # numpy brute force over the float32-stored vectors
    mat = np.stack([np.asarray(v, np.float32) for v in vecs]).astype(np.float64)
    norms = np.maximum(np.sqrt((mat * mat).sum(axis=1)), 1e-12)
    sim = np.round((mat @ mat.T) / np.outer(norms, norms), 4)
    expect = {}
    for a in range(len(vecs)):
        for b in range(a + 1, len(vecs)):
            if sim[a, b] >= eps:
                cnt, mx = expect.get(b, (0, -2.0))
                expect[b] = (cnt + 1, max(mx, sim[a, b]))
    expected = sorted((b, 7, c, m) for b, (c, m) in expect.items())
    assert split == expected
    assert all(r[0] < n for r in split), "zero vectors must never pair"


def test_semdedup_negative_and_sparse_ids(spark):
    """Adversarial id geometry for the shipped-block self-join: negative
    ids (floor-division block keys go negative), ids straddling
    COSINE_SHIP_TILE boundaries, and huge gaps. Every id-keyed step —
    block assignment, the diagonal-super-pair skip, the id_a < id_b
    orientation — must match a numpy brute force."""
    import numpy as np

    dim = 6
    ids = [-20000, -8193, -8192, -1, 0, 1, 8191, 8192, 123456789]
    rng_vecs = []
    for j, i in enumerate(ids):
        t = j / (len(ids) - 1)
        rng_vecs.append([1.0 - t, t] + [0.05 * ((j % 3) - 1)] * (dim - 2))
    emb = spark.createDataFrame(
        list(zip(ids, rng_vecs)), "vec_id long, embedding array<float>"
    )
    cent = spark.createDataFrame(
        [(3, [1.0] + [0.0] * (dim - 1))], "cid long, __cent array<double>"
    )
    eps = 0.9
    got = sorted(
        (r.vec_id, r.n_dups, round(r.max_sim, 4))
        for r in similarity.semdedup_dropped(
            emb, "vec_id", "embedding", eps, centroids=cent
        ).collect()
    )
    mat = np.stack(
        [np.asarray(v, np.float32) for v in rng_vecs]
    ).astype(np.float64)
    norms = np.maximum(np.sqrt((mat * mat).sum(axis=1)), 1e-12)
    sim = np.round((mat @ mat.T) / np.outer(norms, norms), 4)
    expect = {}
    for ai in range(len(ids)):
        for bi in range(len(ids)):
            if ids[ai] < ids[bi] and sim[ai, bi] >= eps:
                cnt, mx = expect.get(ids[bi], (0, -2.0))
                expect[ids[bi]] = (cnt + 1, max(mx, sim[ai, bi]))
    expected = sorted((b, c, round(m, 4)) for b, (c, m) in expect.items())
    assert got == expected
    assert len(got) > 0, "fixture must produce drops"


def test_bucketed_join_metastore_hygiene(spark):
    """bucketed_join must not accumulate bjoin_* databases (round-8 fix):
    databases created by THIS process stay registered until atexit (their
    tables back possibly-uncollected frames), but a stale bjoin_* left by
    a dead process is swept on the next invocation."""
    from polario_spark import queries as Q

    import subprocess

    # simulate a dead process's leftover: present in the metastore but
    # absent from the live set (legacy no-PID name -> sweepable)
    spark.sql("CREATE DATABASE IF NOT EXISTS bjoin_deadbeef")
    Q._BJOIN_LIVE_DBS.discard("bjoin_deadbeef")
    # r9 ADVICE: a CONCURRENT driver's live database must survive the
    # sweep — liveness is decided by the PID embedded in the name
    helper = subprocess.Popen(["sleep", "60"])
    live_db = f"bjoin_p{helper.pid}_cafe0000"
    dead_db = "bjoin_p999999999_dead0000"
    try:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {live_db}")
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {dead_db}")
        df = Q.REGISTRY["bucketed_join"].spark(spark, "/root/testdata/sf0.001")
        assert df.count() > 0
        names = {
            r[0] for r in spark.sql("SHOW DATABASES LIKE 'bjoin_*'").collect()
        }
        assert "bjoin_deadbeef" not in names  # legacy stale db swept
        assert dead_db not in names  # dead-PID db swept
        assert live_db in names  # live concurrent owner NOT swept
        assert names - {live_db} <= Q._BJOIN_LIVE_DBS  # rest atexit-tracked
    finally:
        helper.kill()
        helper.wait()
        spark.sql(f"DROP DATABASE IF EXISTS {live_db} CASCADE")
        spark.sql(f"DROP DATABASE IF EXISTS {dead_db} CASCADE")


def test_probe_cells_gemm_matches_window_plan(spark):
    """The GEMM probe selection (round 11) must agree with ivf_topk's
    HOF-dot window plan probe-for-probe on the fixture, for both the
    stride and Lloyd-refined centroid sets — same rationale as the
    assignment pin above: generic float data never lands on the ~1 ulp
    BLAS-vs-fold boundary, so a mismatch is a kernel bug (tie-break
    direction, merge comparator, block seam), not noise."""
    from pyspark.sql import Window as W
    from polario_spark.functions import vector as VEC

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb = similarity.well_formed_vectors(emb, "embedding", 64)
    for cent in (
        None,
        similarity.kmeans_centroids(emb, "vec_id", "embedding", iters=1),
    ):
        gemm = {
            (r.qid, r.cell)
            for r in similarity.probe_cells(
                emb, "vec_id", "embedding", centroids=cent
            ).collect()
        }
        cframe = cent
        if cframe is None:
            cframe = similarity.default_stride_centroids(
                emb, "vec_id", "embedding"
            )
        prepped = similarity._prepared_centroids(
            emb, "vec_id", "embedding", cframe
        )
        queries = (
            similarity.canonical_vectors(emb, "vec_id", "embedding")
            .filter(F.col("nid") % similarity.IVF_QUERY_STRIDE == 0)
            .select(F.col("nid").alias("qid"), F.col("__v").alias("__q"))
            .withColumn("__nq", F.expr(VEC.norm_clamped("__q", "spark")))
        )
        qsim = F.expr(f"({VEC.dot('__q', '__cent', 'spark')}) / (__nq * __nc)")
        w = W.partitionBy("qid").orderBy(qsim.desc(), F.col("cid").asc())
        window = {
            (r.qid, r.cid)
            for r in queries.join(prepped)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= similarity.IVF_NPROBE)
            .select("qid", "cid")
            .collect()
        }
        assert gemm == window
        assert len(gemm) > 0

    # exact-tie tie-break: two IDENTICAL centroid vectors -> bitwise-
    # tied sims; top-2 must keep BOTH (they are the two best cells) and
    # a third, worse centroid must lose to them
    rows = [(i, [float(i % 7 + 1), 1.0, -0.5]) for i in range(0, 300, 3)]
    tiny = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = spark.createDataFrame(
        [(3, [1.0, 2.0, 0.0]), (9, [1.0, 2.0, 0.0]), (5, [-9.0, -9.0, 9.0])],
        "cid long, __cent array<double>",
    )
    got = {}
    for r in similarity.probe_cells(tiny, centroids=cent).collect():
        got.setdefault(r.qid, set()).add(r.cell)
    assert got, "stride left no query rows"
    for qid, cells in got.items():
        assert cells == {3, 9}, (qid, cells)


def test_probe_cells_block_seam_merge(spark, monkeypatch):
    """Force the running top-P merge across GEMM blocks: the plan reads
    ASSIGN_CENT_BLOCK when it is built, so a 2-centroid block splits a
    5-centroid set into three blocks, and each query's two best cells
    are merged across them; checked against a numpy reference."""
    import numpy as np

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((97 * 6, 8))  # qids 0, 97, ... hit stride
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cmat = rng.standard_normal((5, 8))
    cent = spark.createDataFrame(
        [(int(c), [float(x) for x in cmat[c]]) for c in range(5)],
        "cid long, __cent array<double>",
    )
    monkeypatch.setattr(similarity, "ASSIGN_CENT_BLOCK", 2)
    got = {}
    for r in similarity.probe_cells(df, centroids=cent).collect():
        got.setdefault(r.qid, set()).add(r.cell)
    cn = np.maximum(np.sqrt((cmat * cmat).sum(axis=1)), 1e-12)
    for qid, cells in got.items():
        q = vecs[qid]
        sims = (cmat @ q) / (cn * max(np.sqrt(q @ q), 1e-12))
        want = set(np.argsort(-sims, kind="stable")[:2].tolist())
        assert cells == want, (qid, cells, want)


def test_lsh_sized_dials_rule_properties():
    """The sizing rule's contract, pinned: r tracks log2(n/B) with a floor
    of 4 (expected bucket size ~B at every n), L holds the candidate
    recall bound under the hyperplane collision model at every operating
    point, and both outputs are pure functions of (n, tau) — the property
    the build-time oracle's validity rests on."""
    import math

    for n, tau in [(500, 0.45), (2000, 0.45), (60_000, 0.6), (10**9, 0.6)]:
        r, bands = similarity.lsh_sized_dials(n, tau)
        assert r == max(4, round(math.log2(n / similarity.LSH_SIZED_BUCKET)))
        p = 1.0 - math.acos(tau) / math.pi
        recall = 1.0 - (1.0 - p**r) ** bands
        assert recall >= similarity.LSH_SIZED_RECALL, (n, tau, r, bands, recall)
        # minimality: one fewer band would break the recall bound
        if bands > 1:
            assert 1.0 - (1.0 - p**r) ** (bands - 1) < similarity.LSH_SIZED_RECALL
        assert (r, bands) == similarity.lsh_sized_dials(n, tau)
    # monotone: a bigger corpus never gets looser buckets
    rs = [similarity.lsh_sized_dials(n, 0.45)[0] for n in (10**3, 10**5, 10**7)]
    assert rs == sorted(rs) and rs[0] < rs[-1]


def test_lsh_sized_dials_threshold_edges():
    """r12 advisor: the collision model degenerates at the similarity
    endpoints (p=1 -> log(0) domain error; p~0 with p**r underflow ->
    ZeroDivision). Endpoints must raise a clear ValueError, and extreme
    but valid thresholds must return finite dials, never crash."""
    import math

    import pytest

    for bad in (1.0, -1.0, 1.5, -2.0):
        with pytest.raises(ValueError, match="open interval"):
            similarity.lsh_sized_dials(500, bad)
    for bad_recall in (0.0, 1.0, -0.1, 1.5):
        with pytest.raises(ValueError, match="recall"):
            similarity.lsh_sized_dials(500, 0.45, recall=bad_recall)
    # near the +1 endpoint p -> 1: a handful of bands suffices
    r, bands = similarity.lsh_sized_dials(10**6, 1.0 - 1e-12)
    assert bands >= 1 and r == round(math.log2(10**6 / 16))
    # near the -1 endpoint p -> 0 and p**r underflows: the pre-fix code
    # raised ZeroDivisionError here; now it returns a finite (absurdly
    # large, honestly so) band count
    r, bands = similarity.lsh_sized_dials(10**9, -1.0 + 1e-15)
    assert bands >= 1 and math.isfinite(bands)


def test_lsh_banded_long_signatures(spark):
    """At r >= 32 bit 31 weighs 2^31, past INT range: the band signature
    must be a bigint that holds the full weight sum. Pin that r=33
    computes the right > 2^31 signature, and that r > 62 refuses with a
    clear error at every signature builder."""
    # an ascending vector sets bit j exactly when plane j's pair has
    # a > b — which under LSH_SEED includes bit 32, so the expected
    # signature exceeds int32 range
    base = spark.range(1).select(
        F.col("id").alias("__id"),
        F.expr(
            "transform(sequence(0, 63), x -> cast(x as double))"
        ).alias("__v"),
    )
    banded = similarity._lsh_banded(base, 64, 33, 1)
    assert banded.schema["sig"].dataType.simpleString() == "bigint"
    rows = banded.select("sig").collect()
    assert len(rows) == 1
    idx = similarity._lsh_index_pairs(64, 33, similarity.LSH_SEED, 33)
    want = sum(1 << j for j, (a, b) in enumerate(idx) if a > b)
    assert rows[0].sig == want and want > 2**31
    with pytest.raises(ValueError, match="64-bit band signature"):
        similarity._lsh_banded(base, 64, 63, 1)
    # the refusal lives in the shared _lsh_index_pairs funnel, so the
    # bucketed join and the DuckDB oracle builder refuse too — the
    # oracle's `1 << j` SQL literals would otherwise widen past BIGINT
    emb = spark.range(2).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(sequence(0, 63), x -> cast(x as double))").alias(
            "embedding"
        ),
    )
    with pytest.raises(ValueError, match="64-bit band signature"):
        similarity.cosine_pairs_bucketed(
            emb, "vec_id", "embedding", 0.45, bits_per_band=70, n_bands=7
        )
    with pytest.raises(ValueError, match="64-bit band signature"):
        similarity._lsh_band_sigs("__v", 64, 70, 7)
    with pytest.raises(ValueError, match="64-bit band signature"):
        similarity.cosine_pairs_bucketed_sql(
            "embeddings", "vec_id", "embedding", 0.45,
            bits_per_band=70, n_bands=7,
        )


def test_cosine_pairs_bucketed_sized_subset_and_recall(spark):
    """The SIZED operating point (r/L from lsh_sized_dials instead of the
    fixed defaults) keeps the bucketed contract: subset of exact pairs at
    the same threshold, sims exact, recall held at the model's bound, and
    the banding genuinely differs from the fixed-dial entry (r > 4)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    r, bands = similarity.lsh_sized_dials(n, 0.45)
    assert r > similarity.LSH_BITS_PER_BAND  # the rule bites at n=500
    exact = {
        (row.id_a, row.id_b): row.sim
        for row in similarity.cosine_pairs(
            emb, "vec_id", "embedding", 0.45
        ).collect()
    }
    sized = {
        (row.id_a, row.id_b): row.sim
        for row in similarity.cosine_pairs_bucketed(
            emb, "vec_id", "embedding", 0.45, bits_per_band=r, n_bands=bands
        ).collect()
    }
    assert set(sized) <= set(exact)
    assert len(exact) > 0
    assert len(sized) / len(exact) >= 0.8, (len(sized), len(exact))
    for pair, sim in sized.items():
        assert sim == exact[pair], pair


def test_ivf_topk_quantized_sims_are_integer_cosines(spark):
    """The quantized IVF's sims must be exactly the integer-dot cosine
    quantized_topk defines (the float GEMM over int8-cast values is
    integer-exact at dim 64): every (qid, nid) the IVF path returns that
    the exact quantized scan also scored must carry the identical sim,
    and the result shape/rank contract must match the IVF family."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb = similarity.well_formed_vectors(emb, "embedding", 64)
    exact = {
        (r.qid, r.nid): r.sim
        for r in similarity.quantized_topk(emb, "vec_id", "embedding", 5)
        .collect()
    }
    got = similarity.ivf_topk_quantized(emb, "vec_id", "embedding", 5).collect()
    assert len(got) > 0
    assert {c for c in got[0].asDict()} == {"qid", "nid", "sim", "rank"}
    per_q = {}
    for r in got:
        per_q.setdefault(r.qid, []).append(r)
        if (r.qid, r.nid) in exact:
            assert r.sim == exact[(r.qid, r.nid)], (r.qid, r.nid)
    for qid, rows in per_q.items():
        ranks = sorted(x.rank for x in rows)
        assert ranks == list(range(1, len(rows) + 1)), qid
        sims = [x.sim for x in sorted(rows, key=lambda x: x.rank)]
        assert sims == sorted(sims, reverse=True), qid


def test_quantized_index_stores_tinyint(spark, tmp_path):
    """The materialized quantized index must be genuinely int8 storage
    (array<tinyint>) with values bounded in [-127, 127] — the memory
    claim the operator's docstring makes — and dequantization must
    reproduce the exact integers."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb = similarity.well_formed_vectors(emb, "embedding", 64)
    cells = similarity.assign_cells(emb, "vec_id", "embedding").select(
        "nid", "__v", "cell"
    )
    qidx = similarity.quantized_index(cells)
    assert dict(qidx.dtypes)["__qv"] == "array<tinyint>"
    path = str(tmp_path / "qidx")
    qidx.write.parquet(path)
    back = spark.read.parquet(path)
    assert dict(back.dtypes)["__qv"] == "array<tinyint>"
    row = back.selectExpr(
        "max(array_max(__qv)) AS hi", "min(array_min(__qv)) AS lo",
        # per-vector peak MAGNITUDE: greatest(|max|, |min|) — abs of the
        # max element alone misses vectors whose largest-|x| component
        # is negative (self-review r12). Symmetric scaling maps every
        # vector's peak-|x| component to +-127, so the MIN over vectors
        # pins the invariant for each row, not just one lucky one.
        "min(greatest(abs(array_max(__qv)), abs(array_min(__qv)))) AS m",
    ).collect()[0]
    assert -127 <= row.lo <= row.hi <= 127
    assert row.m == 127  # symmetric scaling hits full range per vector


def test_dedup_ngram_jaccard_builds_without_count_job(spark, monkeypatch):
    """Registry plan-build must not run a Spark job: the prefix-filter
    auto-dispatch size signal comes from parquet footer metadata, so
    DataFrame.count must never fire during construction (it re-executes
    the upstream plan when the input is derived — round-12 advisor
    sweep). The count() fallback stays available for sources without
    readable footers, so only the REGISTRY path is pinned here."""
    from pyspark.sql import DataFrame as _DF

    from polario_spark import queries as Q

    def _boom(self):
        raise AssertionError("DataFrame.count ran during plan build")

    monkeypatch.setattr(_DF, "count", _boom)
    df = Q.REGISTRY["dedup_ngram_jaccard"].spark(
        spark, "/root/testdata/sf0.001"
    )
    assert df.columns == ["id_a", "id_b", "jaccard"]


def test_lsh_banding_matches_duckdb_oracle(spark):
    """The production band signatures (``_lsh_banded``'s numpy kernel,
    which ``cosine_pairs_bucketed`` buckets on) must equal the DuckDB
    oracle's ``_lsh_band_sigs`` expressions for every (id, band): the
    oracle's candidate set is only the same when the banding is. Pinned
    over the sf0.001 embeddings at r=5, L=19, where every bit weight and
    plane order shows in the signatures."""
    import duckdb

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path)
    base = similarity.well_formed_vectors(emb, "embedding", 64).select(
        F.col("vec_id").alias("__id"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("__v"),
    )
    r, n_bands = 5, 19
    got = {
        tuple(x)
        for x in similarity._lsh_banded(base, 64, r, n_bands)
        .select("__id", "band", "sig")
        .collect()
    }
    oracle = "\nUNION ALL\n".join(
        f"SELECT vec_id, {band} AS band, {sig} AS sig "
        f"FROM read_parquet('{path}') "
        f"WHERE {similarity.well_formed_sql('embedding', 64)}"
        for band, sig in enumerate(
            similarity._lsh_band_sigs("embedding", 64, r, n_bands)
        )
    )
    con = duckdb.connect()
    want = set(con.sql(oracle).fetchall())
    assert len(want) == 500 * n_bands
    assert got == want


def test_collect_stride_centroids_fused_matches_two_job_path(spark):
    """The r16 fused count+collect job must return the EXACT triplet the
    two-job path (default_stride_centroids + _collect_centroid_matrix)
    returns — on a clean corpus (hint == true count), on duplicate ids
    (canonical max collapse), and when shed rows push the true count
    into a LOWER power-of-4 bracket than the hint (guess > stride: the
    fused job's candidates would be a subset, so it must fall back)."""
    import numpy as np

    def triplet(corpus, n_hint):
        return similarity.collect_stride_centroids(
            corpus, "vec_id", "embedding", n_hint=n_hint
        )

    def reference(corpus):
        return similarity._collect_centroid_matrix(
            similarity.default_stride_centroids(corpus, "vec_id", "embedding")
        )

    def assert_same(got, exp):
        assert np.array_equal(got[0], exp[0])
        assert np.array_equal(got[1], exp[1])
        assert np.array_equal(got[2], exp[2])

    # clean corpus, 300 rows -> stride 32; hint == count
    emb = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 4), j -> cast(id * j % 7 as float))"
        ).alias("embedding"),
    )
    assert_same(triplet(emb, 300), reference(emb))

    # duplicate ids collapse to the lexicographically greatest vector
    dup = spark.createDataFrame(
        [(0, [1.0, 0.0]), (0, [2.0, 0.0]), (64, [3.0, 1.0]), (64, [0.5, 9.0])],
        "vec_id long, embedding array<float>",
    )
    assert_same(triplet(dup, 4), reference(dup))

    # boundary-crossing hint: 300-row hint (stride 32) over a 12-row
    # corpus (stride 4) -> guess > stride, fused path must fall back and
    # still return the stride-4 set
    small = spark.range(12).select(
        F.col("id").alias("vec_id"),
        F.expr("array(cast(id as float), 1.0f)").alias("embedding"),
    )
    got = triplet(small, 300)
    assert list(got[0]) == [0, 4, 8]
    assert_same(got, reference(small))

    # no hint: plain two-job path
    assert_same(triplet(emb, None), reference(emb))


def test_kmeans_centroids_fused_init_matches_counted_path(spark):
    """``n_hint`` (r16) fuses the init-stride count into the init
    collect; centroids must be identical to the two-job path — on a
    matching hint and on a boundary-crossing hint (fallback)."""
    emb = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 4), j -> cast(id * j % 7 as float))"
        ).alias("embedding"),
    )
    base = sorted(map(tuple, similarity.kmeans_centroids(emb, iters=2).collect()))
    hinted = sorted(
        map(tuple, similarity.kmeans_centroids(emb, iters=2, n_hint=300).collect())
    )
    crossing = sorted(
        map(tuple, similarity.kmeans_centroids(emb, iters=2, n_hint=9000).collect())
    )
    assert base == hinted == crossing
    assert base, "init must produce centroids for the test to bite"


def test_kmeans_return_matrix_matches_collect(spark):
    """``kmeans_centroid_matrix`` hands back the Lloyd loop's own final
    (ids, matrix, norms) triplet; it must be bitwise what
    ``_collect_centroid_matrix`` rebuilds from ``kmeans_centroids``'
    frame (which ``centroid_frame`` builds from that triplet) —
    including the iters=0 (init-set) path and the empty-corpus path."""
    import numpy as np

    emb = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 4), j -> cast(id * j % 7 as float))"
        ).alias("embedding"),
    )

    def assert_triplets_equal(got, want):
        g_ids, g_mat, g_norms = got
        w_ids, w_mat, w_norms = want
        assert list(g_ids) == list(w_ids)
        assert g_mat.shape == w_mat.shape
        assert np.array_equal(g_mat, w_mat)  # bitwise: exact equality
        assert np.array_equal(g_norms, w_norms)

    for iters in (0, 2):
        triplet = similarity.kmeans_centroid_matrix(
            emb, iters=iters, n_hint=300
        )
        frame = similarity.kmeans_centroids(emb, iters=iters, n_hint=300)
        assert_triplets_equal(
            triplet, similarity._collect_centroid_matrix(frame)
        )

    empty = emb.where("vec_id < 0")
    triplet = similarity.kmeans_centroid_matrix(empty, iters=2)
    frame = similarity.centroid_frame(spark, triplet)
    assert frame.count() == 0
    assert_triplets_equal(
        triplet, similarity._collect_centroid_matrix(frame)
    )
