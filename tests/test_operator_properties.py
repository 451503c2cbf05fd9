"""Property-based invariants for the layout and similarity operators,
mirroring the reference's hypothesis-driven test strategy (SURVEY.md §5)
on the net-new operator surface.

Each property is the contract scale correctness rests on:

- Morton keys: dominance monotonicity + sign-bit safety for ANY input
  distribution and any supported dimensionality — parquet min/max
  skipping is sound only if the key order respects per-column order.
- LSH near-dup pairs: for ANY vector set, the bucketed result is a
  subset of the exact all-pairs result with identical similarity values
  (approximation may only DROP pairs, never invent or mis-score them).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from polario_spark.operators import dedup, similarity

coords = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10**6),
        st.integers(min_value=-(10**6), max_value=10**6),
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
        st.integers(min_value=0, max_value=3),
    ),
    min_size=2,
    max_size=14,
)


@given(data=coords)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_morton_dominance_any_distribution(spark, data):
    from polario_spark.functions.zorder import zorder_frame

    rows = [(i, *t) for i, t in enumerate(data)]
    df = spark.createDataFrame(
        rows, "id long, a long, b long, c double, d long"
    )
    keyed = {
        r["id"]: r["__zkey"]
        for r in zorder_frame(df, ["a", "b", "c", "d"])
        .select("id", "__zkey")
        .collect()
    }
    assert all(0 <= k < 2**63 for k in keyed.values())
    pts = {r[0]: r[1:] for r in rows}
    for i, pi in pts.items():
        for j, pj in pts.items():
            if i != j and all(x <= y for x, y in zip(pi, pj)):
                assert keyed[i] <= keyed[j], (pi, pj)


vectors = st.lists(
    st.lists(
        st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
        min_size=8,
        max_size=8,
    ).filter(lambda v: any(abs(x) > 1e-3 for x in v)),
    min_size=2,
    max_size=10,
)


@given(vecs=vectors)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_lsh_pairs_subset_of_exact_any_vectors(spark, vecs):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {
        (r.id_a, r.id_b): r.sim
        for r in similarity.cosine_pairs(df, "vec_id", "embedding", 0.3).collect()
    }
    bucketed = {
        (r.id_a, r.id_b): r.sim
        for r in similarity.cosine_pairs_bucketed(
            df, "vec_id", "embedding", 0.3, dim=8
        ).collect()
    }
    assert set(bucketed) <= set(exact), (bucketed, exact)
    for pair, sim in bucketed.items():
        assert sim == exact[pair], (pair, sim, exact[pair])


texts = st.lists(
    st.text(
        # includes the Unicode case-mapping troublemakers: U+0130 İ
        # (full lowercase = i + combining dot), Å, and the Kelvin sign
        # K — the chars where engine lower() implementations disagree
        alphabet=st.sampled_from("ab c\nd0!İÅK"),
        max_size=60,
    ),
    min_size=1,
    max_size=8,
)


@given(docs=texts)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_repetition_and_chunk_exprs_match_python_reference(spark, docs):
    """The codegen text builders (tokens / lines / n-grams / chunk
    geometry) must agree with a plain-Python reference on arbitrary text,
    including empty docs, runs of separators, and newline soup."""
    import re

    from pyspark.sql import functions as F

    from polario_spark.operators import text_analysis

    rows = list(enumerate(docs))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in text_analysis.repetition_frame(df, "text").collect()
    }
    chunks = {}
    for r in text_analysis.chunk_documents(df, "text").collect():
        chunks.setdefault(r.doc_id, []).append(r.n_chunk_tokens)

    C, S = text_analysis.CHUNK_TOKENS, text_analysis.CHUNK_STRIDE
    for i, text in rows:
        # ASCII-split-then-lower: the engine-independent tokenizer
        # contract (see functions.text.tokens) — text.lower() would
        # full-case-map U+0130 and diverge from the SQL builders
        toks = [t.lower() for t in re.split(r"[^a-zA-Z0-9]+", text) if t]
        lines = [ln.strip() for ln in text.split("\n") if ln.strip()]
        grams2 = [" ".join(toks[k : k + 2]) for k in range(len(toks) - 1)]
        grams3 = [" ".join(toks[k : k + 3]) for k in range(len(toks) - 2)]

        def frac(arr):
            return round((len(arr) - len(set(arr))) / len(arr), 4) if arr else 0.0

        assert got[i]["n_lines"] == len(lines), text
        assert got[i]["dup_line_frac"] == frac(lines), text
        assert got[i]["dup_token_frac"] == frac(toks), text
        assert got[i]["dup_bigram_frac"] == frac(grams2), text
        assert got[i]["dup_trigram_frac"] == frac(grams3), text
        if not toks:
            assert i not in chunks, text
        else:
            n_chunks = 1 + max(0, (len(toks) - C + S - 1) // S)
            expect = [
                len(toks[k * S : k * S + C]) for k in range(n_chunks)
            ]
            assert sorted(chunks[i]) == sorted(expect), text


def test_tokenizer_parity_spark_vs_duckdb_on_unicode():
    """The tokens()/ascii_lower() builders must produce byte-identical
    token arrays in Spark and DuckDB for ALL inputs — including the
    Unicode shapes where the engines' lower() implementations disagree
    (U+0130 full case mapping, Kelvin sign, combining marks, fullwidth
    forms, emoji/surrogates, NBSP). This is the contract that keeps
    every tokenizing entry hash-green on non-ASCII corpora."""
    import duckdb

    from polario_spark.functions import text as TXT

    nasty = [
        "İstanbul İİ dotted",       # U+0130: full vs simple case mapping
        "Kelvin K sign",            # U+212A lowercases to ASCII k
        "ÅNGSTRÖM café naïve",      # Latin-1 uppercase/accents
        "STRASSE ß sharp",          # sharp s
        "ﬁ ﬂ ligatures",            # compatibility ligatures
        "Ｆｕｌｌｗｉｄｔｈ０９",     # fullwidth letters and digits
        "a\xa0b nbsp",              # non-breaking space separator
        "é combining acute",  # combining mark splits
        "emoji 🎉 party 🚀x",        # non-BMP / surrogate pairs
        "zero​width join",     # zero-width space
        "日本語 mixed ascii",        # CJK
        "ΣΙΓΜΑΣ greek",             # final-sigma case rules
        "",                          # empty
        "   ",                       # separators only
    ]
    sdf = [
        list(r[0])
        for r in spark_tokens(nasty)
    ]
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, ?)" for i in range(len(nasty)))
        + ") v(i, text)",
        params=list(nasty),
    )
    ddf = [
        list(r[0])
        for r in con.sql(
            f"SELECT {TXT.tokens('text', 'duckdb')} FROM t ORDER BY i"
        ).fetchall()
    ]
    assert sdf == ddf, list(zip(nasty, sdf, ddf))


def spark_tokens(texts):
    from pyspark.sql import functions as F

    from polario_spark.functions import text as TXT
    from polario_spark.session import get_spark

    spark = get_spark("tokenizer_parity_tests")
    df = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
    return (
        df.select("i", F.expr(TXT.tokens("text", "spark")).alias("toks"))
        .orderBy("i")
        .select("toks")
        .collect()
    )


@given(
    st.one_of(
        st.integers(min_value=0, max_value=2**40),
        # saturate the boundary neighborhoods where a float log2
        # derivation could flip: n near powers of four
        st.integers(min_value=0, max_value=20).flatmap(
            lambda s: st.integers(min_value=max(0, 4**s - 2), max_value=4**s + 2)
        ),
    )
)
@settings(max_examples=300, deadline=None)
def test_adaptive_centroid_stride_properties(n):
    """The sqrt(n) centroid-sizing contract (no Spark, no DuckDB):

    - stride is a power of two with stride^2 > n >= (stride/2)^2, so the
      default centroid count K = n/stride sits in [sqrt(n)/2, sqrt(n)] —
      the O(n^1.5) operating point for IVF probe / SemDeDup pair work
      (see adaptive_centroid_stride's docstring and SCALE.md's
      volume-scaling probe section);
    - monotone non-decreasing in n (more data can never mean a finer
      stride, so centroid sets shrink-or-hold as corpora grow).
    """
    st_n = similarity.adaptive_centroid_stride(n)
    assert st_n & (st_n - 1) == 0 and st_n >= 1
    assert st_n * st_n > n
    assert st_n == 1 or (st_n // 2) * (st_n // 2) <= n
    assert similarity.adaptive_centroid_stride(n + 1) >= st_n


def test_adaptive_centroid_stride_matches_duckdb_twin():
    """The scalar-subquery SQL twin must yield the same stride as the
    Python derivation for every count in the boundary sweep — this is
    what keeps the Spark centroid set and the oracle centroid set
    identical at any sf (a 1-value divergence would silently re-cell the
    whole corpus on one engine)."""
    import duckdb

    con = duckdb.connect()
    ns = [0, 1, 2, 3, 4, 5, 15, 16, 17, 199, 200, 255, 256, 257, 2000]
    ns += [4**s + d for s in range(1, 16) for d in (-1, 0, 1)]
    for n in ns:
        sql = similarity._adaptive_stride_sql("e").replace(
            "FROM e", f"FROM range({n}) e(id)"
        )
        got = con.sql(f"SELECT st FROM {sql}").fetchone()[0]
        assert got == similarity.adaptive_centroid_stride(n), n


def test_lsh_sizing_knobs_cross_engine_and_tightening():
    """The (bits_per_band, n_bands) sizing dials added for 100 TB corpora
    (see cosine_pairs_bucketed "SIZING AT SCALE") must keep the two
    engines bucket-identical at NON-default settings, and tightening r
    with L fixed may only DROP pairs (smaller buckets = fewer candidate
    collisions), with every surviving pair scored identically."""
    import duckdb

    from polario_spark.session import get_spark

    spark = get_spark("lsh_sizing_tests")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/embeddings.parquet')"
    )
    results = {}
    for r_bits, l_bands in [(4, 16), (6, 8), (8, 4)]:
        got = {
            (row.id_a, row.id_b): row.sim
            for row in similarity.cosine_pairs_bucketed(
                emb, "vec_id", "embedding", 0.3, 64, r_bits, l_bands
            ).collect()
        }
        oracle = {
            (a, b): s
            for a, b, s in con.sql(
                similarity.cosine_pairs_bucketed_sql(
                    "embeddings", "vec_id", "embedding", 0.3, 64, r_bits, l_bands
                )
            ).fetchall()
        }
        assert got == oracle, (r_bits, l_bands)
        results[(r_bits, l_bands)] = got
    # r up / L down tightens candidates: each config's pairs score the
    # same wherever they overlap (exact verify is parameter-independent)
    base = results[(4, 16)]
    for key, got in results.items():
        for pair in set(got) & set(base):
            assert got[pair] == base[pair], (key, pair)


# --- capped-generator -> connected-components composition (round 10) ------
# The degenerate-bucket cap (round 9) replaces an over-cap bucket's m^2
# pair enumeration with m-1 STAR pairs to the bucket's min id. The star
# argument — every member still reaches the hub, so components are
# unchanged — was pinned on fixed fixtures only; these properties prove it
# for ALL generated bucket structures (the round-9 verdict's item #5),
# both at the abstract transformation level (against a union-find ground
# truth) and end-to-end through the real MinHash generator.

_buckets = st.lists(
    st.sets(st.integers(min_value=0, max_value=24), min_size=2, max_size=12),
    min_size=1,
    max_size=6,
)


def _union_find_components(nodes, pairs):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical representative = min id of the component
    comp = {}
    for n in nodes:
        root = find(n)
        comp.setdefault(root, []).append(n)
    out = {}
    for members in comp.values():
        rep = min(members)
        for m in members:
            out[m] = rep
    return {(n, c) for n, c in out.items()}


@given(buckets=_buckets, cap=st.integers(min_value=1, max_value=6))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_star_cap_preserves_connected_components(spark, buckets, cap):
    """For ANY bucket structure (overlapping buckets chaining components
    arbitrarily) and ANY cap, connected_components over the star-capped
    pair set equals connected_components over the full per-bucket pair
    enumeration, and both equal a pure-Python union-find ground truth."""

    def full_pairs():
        out = set()
        for b in buckets:
            mem = sorted(b)
            out |= {
                (x, y) for i, x in enumerate(mem) for y in mem[i + 1 :]
            }
        return out

    def capped_pairs():
        out = set()
        for b in buckets:
            mem = sorted(b)
            if len(mem) > cap:
                out |= {(mem[0], m) for m in mem[1:]}
            else:
                out |= {
                    (x, y) for i, x in enumerate(mem) for y in mem[i + 1 :]
                }
        return out

    def spark_cc(pairs):
        df = spark.createDataFrame(sorted(pairs), "id_a long, id_b long")
        return {
            (r.node, r.component)
            for r in dedup.connected_components(df).collect()
        }

    nodes = sorted(set().union(*buckets))
    truth = _union_find_components(nodes, full_pairs())
    assert spark_cc(capped_pairs()) == truth
    assert spark_cc(full_pairs()) == truth


@given(
    sizes=st.lists(
        st.integers(min_value=1, max_value=9), min_size=1, max_size=4
    )
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_minhash_cap_preserves_components_end_to_end(spark, sizes):
    """End-to-end through the REAL generator: identical-text duplicate
    groups of hypothesis-chosen sizes, candidate pairs from
    minhash_candidate_pairs at a TINY bucket_cap (star pairs forced for
    any group over 3) vs an effectively-infinite cap, then
    connected_components over each — the component assignment must be
    identical, for any group-size mix."""
    base_texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "one two three four five six seven eight nine",
        "red orange yellow green blue indigo violet",
        "north south east west up down left right",
    ]
    rows, nid = [], 0
    for gi, sz in enumerate(sizes):
        for _ in range(sz):
            rows.append((nid, base_texts[gi % len(base_texts)]))
            nid += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = dedup.minhash_signatures(docs, "doc_id", "text")
    capped = dedup.minhash_candidate_pairs(sig, "doc_id", bucket_cap=3)
    uncapped = dedup.minhash_candidate_pairs(
        sig, "doc_id", bucket_cap=1_000_000_000
    )
    cap_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    full_pairs = {(r.id_a, r.id_b) for r in uncapped.collect()}
    if not full_pairs:
        assert not cap_pairs
        return
    assert cap_pairs <= full_pairs

    def spark_cc(pairs):
        df = spark.createDataFrame(sorted(pairs), "id_a long, id_b long")
        return {
            (r.node, r.component)
            for r in dedup.connected_components(df).collect()
        }

    assert spark_cc(cap_pairs) == spark_cc(full_pairs)


vec_tiles = st.integers(min_value=0, max_value=2**31 - 1)


@given(seed=vec_tiles)
@settings(max_examples=40, deadline=None)
def test_screened_kernel_matches_plain_float64(seed):
    """The float32-screened pair kernel (round 11) must emit EXACTLY the
    pairs and sims of the plain float64 round-then-threshold path for
    arbitrary tile contents — the screen may only skip pairs that cannot
    reach the threshold. The fixture mixes random geometry with
    engineered near-threshold pairs (cosines landing within 1e-4 of the
    threshold, the knife-edge the margin must protect) and zero vectors
    (norm-clamp path)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    na_, nb_, dim = rng.integers(1, 60), rng.integers(1, 60), 8
    thr = float(rng.choice([0.35, 0.4, 0.45, 0.5, 0.9]))
    A = rng.standard_normal((na_, dim))
    B = rng.standard_normal((nb_, dim))
    # half the examples get a dup-heavy block (shared base vector with
    # tiny per-row jitter): whole tiles clear the screen, driving the
    # dense full-dgemm branch the same way replica-heavy corpora do
    if seed % 2 == 0 and na_ >= 3 and nb_ >= 3:
        base = rng.standard_normal(dim)
        for i in range(na_ // 2 + 1):
            A[i] = base
            A[i][0] += 0.001 * i
        for j in range(nb_ // 2 + 1):
            B[j] = base
            B[j][0] += 0.001 * (j + 1)
    # engineered knife-edge rows: B row = rotate(A row) at angle
    # acos(thr +/- tiny), so cosines land within ~1e-4 of thr
    if na_ >= 2 and nb_ >= 2:
        for k, delta in enumerate((-1e-4, 0.0, 1e-4)):
            i = int(rng.integers(0, na_))
            a = A[i] / np.linalg.norm(A[i])
            # orthogonal complement direction
            r = rng.standard_normal(dim)
            r -= (r @ a) * a
            nr = np.linalg.norm(r)
            if nr < 1e-9:
                continue
            r /= nr
            c = min(1.0, max(-1.0, thr + delta))
            B[k % nb_] = c * a + np.sqrt(max(0.0, 1.0 - c * c)) * r
    # zero vectors exercise the clamp
    A[0] = 0.0
    if nb_ >= 3:
        B[2] = 0.0
    na = np.maximum(np.sqrt((A * A).sum(axis=1)), 1e-12)
    nb = np.maximum(np.sqrt((B * B).sum(axis=1)), 1e-12)

    sim_plain = np.round((A @ B.T) / np.outer(na, nb), 4)
    ia_p, ib_p = np.nonzero(sim_plain >= thr)
    plain = sorted(zip(ia_p, ib_p, sim_plain[ia_p, ib_p]))

    ia, ib, sim = similarity._VK.screened(
        A, na, B, nb, thr, A.astype(np.float32), B.astype(np.float32)
    )
    got = sorted(zip(ia, ib, sim))
    # identical pair SET; sims may differ by the documented ~1 ulp
    # summation-order class, which the 4-decimal round absorbs except
    # exactly ON a rounding boundary — compare at 4 decimals
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in plain]
    for (_, _, s1), (_, _, s2) in zip(got, plain):
        assert abs(s1 - s2) <= 1e-4 + 1e-12


@given(seed=vec_tiles)
@settings(max_examples=40, deadline=None)
def test_tile_reduce_matches_bruteforce_aggregation(seed):
    """The per-tile REDUCE kernel (round 11, session 2) must accumulate
    exactly the per-id_b (count, max_sim) aggregates of the plain
    float64 all-pairs path, whichever internal path it takes (dense
    full-dgemm vs screen+gather — chosen by screen density, so the
    fixture drives BOTH: random sparse geometry, plus a dup-heavy block
    of near-identical vectors that pushes tiles over
    DENSE_TILE_FRACTION the way replica-heavy crawl corpora do).
    Accumulation across sub-tiles is exercised via a sub-tile walk with
    joff offsets, like reduce_block's."""
    import numpy as np

    from polario_spark.operators import similarity

    rng = np.random.default_rng(seed)
    dim = 8
    thr = float(rng.choice([0.02, 0.35, 0.4, 0.45, 0.9]))
    n_a, n_b = int(rng.integers(1, 70)), int(rng.integers(1, 70))
    A = rng.standard_normal((n_a, dim))
    B = rng.standard_normal((n_b, dim))
    # dup-heavy block: a shared base vector with tiny per-row jitter on
    # one component (the probe corpus's replica construction) spanning
    # part of BOTH sides -> whole sub-tiles clear the screen
    if n_a >= 4 and n_b >= 4:
        base = rng.standard_normal(dim)
        ka, kb = int(rng.integers(2, n_a // 2 + 2)), int(rng.integers(2, n_b // 2 + 2))
        for i in range(min(ka, n_a)):
            A[i] = base
            A[i][0] += 0.001 * i
        for j in range(min(kb, n_b)):
            B[j] = base
            B[j][0] += 0.001 * (j + 1)
    A[0] = 0.0  # norm clamp
    # interleaved ids so id_a < id_b cuts within every region
    ids_a = np.sort(rng.choice(np.arange(4 * (n_a + n_b)), n_a, replace=False)).astype(np.int64)
    ids_b = np.sort(rng.choice(np.arange(4 * (n_a + n_b)), n_b, replace=False)).astype(np.int64)
    na = np.maximum(np.sqrt((A * A).sum(axis=1)), 1e-12)
    nb = np.maximum(np.sqrt((B * B).sum(axis=1)), 1e-12)

    sim_plain = np.round((A @ B.T) / np.outer(na, nb), 4)
    mask = (sim_plain >= thr) & (ids_a[:, None] < ids_b[None, :])
    cnt_exp = mask.sum(axis=0)
    msim_exp = np.where(mask, sim_plain, -np.inf).max(axis=0)

    cnt = np.zeros(n_b, np.int64)
    msim = np.full(n_b, -np.inf)
    T = 16  # small sub-tile so multi-tile accumulation paths run
    A32, B32 = A.astype(np.float32), B.astype(np.float32)
    for i0 in range(0, n_a, T):
        i1 = i0 + T
        for j0 in range(0, n_b, T):
            j1 = j0 + T
            similarity._VK.reduce_tile(
                A[i0:i1], na[i0:i1], B[j0:j1], nb[j0:j1], thr,
                A32[i0:i1], B32[j0:j1],
                ids_a[i0:i1], ids_b[j0:j1], cnt, msim, j0,
            )

    assert (cnt == cnt_exp).all()
    # sims may differ by the ~1 ulp summation-order class at 4 decimals
    both = msim_exp > -np.inf
    assert (both == (msim > -np.inf)).all()
    assert np.all(np.abs(msim[both] - msim_exp[both]) <= 1e-4 + 1e-12)
