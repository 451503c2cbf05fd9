"""Clustered-geometry probe for the similarity stack (round 14).

Every scale probe through r13 ran on replica-clique or decorrelated-
uniform corpora; real embedding corpora CLUSTER — which is both where
IVF recall earns its keep (SCALE.md's own deployment argument: neighbor
mass concentrates in the query's top cells) and where sized-LSH
bucket-size skew appears (cluster-mates sign-agree on most hyperplanes,
so the log2(n/B) expected-bucket rule is pushed off its uniform
assumptions). This tool turns both arguments into measurements on the
``gen-cluster`` corpora (tools/scale_probe.py: 128 sqrt-skewed Gaussian
clusters, within-cluster cos ~0.5, heaviest cluster 11x the mean).

Subcommands (results merge into $SCALE_PROBE_ARTIFACT like every probe):

  python tools/clustered_probe.py ivf-recall <sf_dir> [--only v1,v2] [nprobe ...]
      recall@5 of the float IVF path vs an exact numpy ground truth
      (mirrors brute_force_topk semantics: round(cos,4), self excluded,
      nid-ascending tie-break, queries = vec_id %% 97 == 0), for both
      stride and Lloyd-refined centroids, at each nprobe.

  python tools/clustered_probe.py lsh-buckets <sf_dir> <tau> [label]
      band-bucket size distribution under the SIZED dials
      (lsh_sized_dials) — max / p99 / mean bucket, bucket count, and
      the implied verify-pair volume sum(m*(m-1)/2) — the direct answer
      to "does r = log2(n/B) hold bucket sizes when the data is lumpy".

CAUTION: Spark jobs — never run concurrently with a bench/probe timing.
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))


def _emit(mode: str, results: dict) -> None:
    import scale_probe

    scale_probe._emit_artifact(
        {"mode": mode, "factors": [], "results": results}
    )


import numpy as np

from vector_screen import screen_vectors  # noqa: E402  (tools dir on path)


def _load_matrix(sf_dir: str):
    """(ids, unit-normalized matrix) for the well-formed corpus — the
    operators' screen via the shared screen_vectors twin, at the
    entries' fixed dim=64 contract."""
    import pyarrow.parquet as pq

    paths = sorted(glob.glob(f"{sf_dir}/embeddings.parquet/*.parquet")) or [
        f"{sf_dir}/embeddings.parquet"
    ]
    ids, rows = [], []
    for p in paths:
        t = pq.read_table(p, columns=["vec_id", "embedding"])
        ids.extend(t.column("vec_id").to_pylist())
        rows.extend(t.column("embedding").to_pylist())
    kept_ids, m, _ = screen_vectors(rows, ids=ids, dim=64)
    u = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    order = np.argsort(kept_ids, kind="stable")
    return kept_ids[order], u[order]


def exact_topk(ids, u, k: int = 5, stride: int = 97, block: int = 256):
    """{qid: (set(top-k ids), kth_sim)} under brute_force_topk semantics:
    sim = round(cos, 4), self excluded, ties broken nid-ascending.

    Query-BLOCKED GEMM (r14 review of this tool's own scale story): the
    one-shot ``queries x corpus`` sims matrix is 30 GB at the xc300
    point (6.2k x 600k float64) — the tool would have died of exactly
    the materialize-the-pair-space sin it exists to measure. Peak is
    now one ``block x corpus`` stripe (~1.2 GB at xc300)."""
    qmask = ids % stride == 0
    qids = ids[qmask]
    qu = u[qmask]
    out = {}
    for b in range(0, len(qids), block):
        sims = np.round(qu[b : b + block] @ u.T, 4)
        for row in range(sims.shape[0]):
            qid = qids[b + row]
            s = sims[row]
            s[ids == qid] = -np.inf  # exclude self
            # (-sim, nid) lexsort = sim desc, nid asc — the operator's order
            idx = np.lexsort((ids, -s))[:k]
            out[int(qid)] = (
                set(int(ids[j]) for j in idx),
                float(s[idx[-1]]),
            )
    return out


def quantize_like_operator(u):
    """int8-quantize each row exactly as ``_quantize_exprs`` does:
    q_i = round(x_i * 127 / max|x|) with Spark's HALF_UP rounding (away
    from zero — np.round is half-even and WOULD drift on exact .5
    boundaries). Scale invariance makes the input spelling irrelevant:
    quantizing the unit-normalized row equals quantizing the raw row,
    because x_i / max|x| is unchanged by any positive per-row scaling."""
    s = np.maximum(np.abs(u).max(axis=1, keepdims=True), 1e-30)
    v = u * (127.0 / s)
    return np.sign(v) * np.floor(np.abs(v) + 0.5)


def exact_topk_quantized(ids, u, k: int = 5, stride: int = 97):
    """{qid: (set(top-k ids), kth_sim)} for the INT8 search problem: the
    integer-dot cosine over the operator-identical quantized vectors
    (round(cos,4), self excluded, nid-ascending ties) — the ground truth
    ``ivf_topk_quantized`` approximates. Its sims live on the same
    integer-dot scale the quantized path reports, which is what makes
    the tie-tolerant recall computable for the int8 rows (the float
    truth's kth is on a different scale — r14 artifact note)."""
    q = quantize_like_operator(u)
    uq = q / np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-12)
    return exact_topk(ids, uq, k=k, stride=stride)


def ivf_recall(
    sf_dir: str, nprobes: list[int], only: "set[str] | None" = None
) -> dict:
    from pyspark.sql import functions as F

    from polario_spark import get_spark
    from polario_spark.operators import similarity
    from polario_spark.sources.tables import footer_rows, load_table

    ids, u = _load_matrix(sf_dir)
    truth = exact_topk(ids, u)
    truth_q = (
        exact_topk_quantized(ids, u)
        if (only is None or "quantized" in only)
        else None
    )
    print(f"exact ground truth: {len(truth)} queries over {len(ids)} vectors")

    spark = get_spark("clustered_probe_ivf")
    emb = similarity.well_formed_vectors(
        load_table(spark, sf_dir, "embeddings"), "embedding", 64
    )
    n = footer_rows(sf_dir, "embeddings") or emb.count()
    kcent = similarity.kmeans_centroids(emb, "vec_id", "embedding", iters=3)
    kcent = kcent.cache()
    kcent.count()
    # the int8 path, built exactly as ivf_topk_quantized's in-flight
    # default does (probe queries are the DEQUANTIZED index vectors), so
    # the curve includes quantization loss end-to-end vs the float truth
    q_assigned = similarity.quantized_index(
        similarity.assign_cells(emb, "vec_id", "embedding").select(
            "nid", "__v", "cell"
        )
    ).cache()
    q_assigned.count()
    dq_queries = q_assigned.select(
        "nid", F.expr(similarity.dequant_expr("__qv")).alias("__v")
    )
    results = {}
    for cent_name, cent in [
        ("stride", None),
        ("kmeans", kcent),
        ("quantized", None),
    ]:
        if only and cent_name not in only:
            # --only: extending one variant's curve must not force (and
            # re-emit over) the others' committed rows (r14 review)
            continue
        n_cells = (
            cent.count()
            if cent is not None
            else similarity.default_stride_centroids(
                emb, "vec_id", "embedding"
            ).count()
        )
        for nprobe in nprobes:
            if cent_name == "quantized":
                probes = similarity.probe_cells(
                    emb, "vec_id", "embedding", nprobe=nprobe,
                    queries_from=dq_queries,
                )
                approx = similarity.ivf_topk_quantized(
                    emb, "vec_id", "embedding", 5,
                    assigned_q=q_assigned, probes=probes,
                ).collect()
            else:
                probes = similarity.probe_cells(
                    emb, "vec_id", "embedding", centroids=cent, nprobe=nprobe
                )
                approx = similarity.ivf_topk(
                    emb, "vec_id", "embedding", 5, centroids=cent,
                    probes=probes,
                ).collect()
            got: dict[int, list] = {}
            for r in approx:
                got.setdefault(r.qid, []).append((r.nid, r.sim))
            hits = tie_hits = int_hits = 0
            total = 5 * len(truth)
            for qid, (exact_ids, kth) in truth.items():
                if cent_name == "quantized":
                    # the int8 path's sims live on the integer-dot
                    # scale; tie-tolerance must compare against the
                    # QUANTIZED exact truth's 5th-best (r14 artifact
                    # note — the float kth briefly produced the
                    # impossible tie 0.61 < recall 0.68)
                    exact_q_ids, kth = truth_q[qid]
                for nid, sim in got.get(qid, []):
                    hits += nid in exact_ids
                    tie_hits += sim >= kth  # at least as good as 5th-best
                    if cent_name == "quantized":
                        int_hits += nid in exact_q_ids
            corpus = os.path.basename(sf_dir.rstrip("/"))
            # key carries the corpus (like lsh_buckets' keys): the
            # artifact merge plain-overwrites same-named rows, and an
            # unsuffixed key let a later xc30 run clobber the committed
            # xc100/xc300 curves (r14 review)
            key = f"ivf_{cent_name}_nprobe{nprobe}_{corpus}"
            results[key] = {
                "recall_at_5": round(hits / total, 4),
                "nprobe": nprobe,
                "n_cells": n_cells,
                "scanned_fraction_floor": round(nprobe / n_cells, 4),
                "n_queries": len(truth),
                "n": int(n),
                "corpus": corpus,
            }
            # tie-tolerance: approx sim >= the exact 5th-best. For the
            # float variants kth comes from the float truth; for the
            # int8 variant it comes from the INTEGER-DOT exact truth
            # (same scale as its sims — r15, closing the r14 gap where
            # the metric was reported float-only). recall_at_5 always
            # stays vs the float truth (end-to-end incl. quantization
            # loss, comparable across variants and rounds); the int8
            # rows additionally record recall vs their own exact int8
            # search problem, isolating nprobe loss from quantization.
            results[key]["tie_recall_at_5"] = round(tie_hits / total, 4)
            if cent_name == "quantized":
                results[key]["recall_at_5_vs_int_truth"] = round(
                    int_hits / total, 4
                )
            print(key, results[key])
    spark.stop()
    return results


def lsh_buckets(sf_dir: str, tau: float, label: str | None) -> dict:
    from pyspark.sql import functions as F

    from polario_spark import get_spark
    from polario_spark.operators import similarity
    from polario_spark.sources.tables import footer_rows, load_table

    spark = get_spark("clustered_probe_lsh")
    emb = similarity.well_formed_vectors(
        load_table(spark, sf_dir, "embeddings"), "embedding", 64
    )
    n = footer_rows(sf_dir, "embeddings") or emb.count()
    r, n_bands = similarity.lsh_sized_dials(n, tau)
    base = emb.select(
        F.col("vec_id").alias("__id"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("__v"),
    )
    # the production signature frame cosine_pairs_bucketed buckets on
    banded = similarity._lsh_banded(base, 64, r, n_bands)
    sizes = banded.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("m"))
    agg = sizes.agg(
        F.max("m").alias("max_bucket"),
        F.expr("percentile_approx(m, 0.99)").alias("p99_bucket"),
        F.avg("m").alias("mean_bucket"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.expr("m * (m - 1) / 2")).alias("verify_pairs"),
    ).collect()[0]
    corpus = os.path.basename(sf_dir.rstrip("/"))
    key = label or f"lsh_buckets_tau{str(tau).replace('.', '')}_{corpus}"
    out = {
        key: {
            "n": int(n),
            "tau": tau,
            "r": r,
            "n_bands": n_bands,
            "target_bucket": similarity.LSH_SIZED_BUCKET,
            "max_bucket": int(agg["max_bucket"]),
            "p99_bucket": int(agg["p99_bucket"]),
            "mean_bucket": round(float(agg["mean_bucket"]), 3),
            "n_buckets": int(agg["n_buckets"]),
            "verify_pairs": int(agg["verify_pairs"]),
            "verify_pairs_per_vector_band": round(
                float(agg["verify_pairs"]) / (int(n) * n_bands), 3
            ),
            "corpus": corpus,
        }
    }
    print(key, out[key])
    spark.stop()
    return out


def main() -> int:
    cmd = sys.argv[1]
    if cmd == "ivf-recall":
        args = sys.argv[2:]
        only = None
        if "--only" in args:
            i = args.index("--only")
            only = set(args[i + 1].split(","))
            args = args[:i] + args[i + 2 :]
        sf_dir = args[0]
        nprobes = [int(a) for a in args[1:]] or [1, 2, 4, 8, 16]
        results = ivf_recall(sf_dir, nprobes, only=only)
        _emit("cluster-ivf-recall", results)
        return 0
    if cmd == "lsh-buckets":
        sf_dir, tau = sys.argv[2], float(sys.argv[3])
        label = sys.argv[4] if len(sys.argv) > 4 else None
        results = lsh_buckets(sf_dir, tau, label)
        _emit("cluster-lsh-buckets", results)
        return 0
    print(__doc__)
    return 1


if __name__ == "__main__":
    sys.exit(main())
