"""IVF-PQ recall@10 vs wall-clock operating curve with TRAINED codebooks.

The registry's l27a/b/c pin the MECHANISM with seeded codebooks (the
differential-oracle discipline); tests/test_pq.py proves trained
codebooks lift recall at test scale. This tool closes the remaining
evidence gap on a scale-rung corpus (default /tmp/jh_scale_30x,
60k x 64-dim vectors): it trains BOTH production training paths —

  * coarse quantizer: operators.ann.train_centroids (pyspark.ml KMeans
    over the corpus), micro-ized to the exact-integer form;
  * PQ sub-codebooks: per-subspace numpy Lloyd on a deterministic
    sample (the FAISS practice — codebooks train on a bounded sample,
    ~100k-1M vectors in production, never the full corpus);

then sweeps (n_probe, rerank_k) through the UNCHANGED ivf_pq_top_k
operator.

THE REPLICATION TRAP (first attempt at this curve, round 9): the scale
corpus replicates every base vector ~30x VERBATIM, so each query's
exact top-10 is its own replica class — which shares the query's cell
and its codes — and recall@10 reads 1.000 at EVERY config, including
n_probe=1 ADC-only. A replicated corpus makes retrieval degenerate the
same way it made raw pairwise dedup explode (the l23c lesson, in
reverse). The honest protocol, mirroring the production composition
(collapse exact-duplicate content -> index unique -> expand):

  * RECALL is measured on the replica-collapsed UNIQUE corpus
    (distinct embedding contents), leave-self-out, tie-tolerant
    (a hit iff the neighbor's exact integer dot >= the 10th-best);
  * LATENCY is measured on the FULL replicated corpus (the data volume
    the scan/featurize/join actually faces at this rung), plus a
    composed row: collapse + search-unique, the pipeline a deployment
    runs, which gets the small-corpus latency at the big corpus's
    ingest volume.

The third lever besides n_probe and rerank depth is PQ resolution —
--nsub/--ncodes set bits/vector (nsub*log2(ncodes)); the SCALE.md table
sweeps 32/48/64 bits, because at growing UNIQUE-content counts the
32-bit code is the recall ceiling long before IVF routing is.

Usage: python tools/ivfpq_curve.py [sf_dir] [--cells=32] [--queries=64]
                                   [--nsub=8] [--ncodes=16] [--json=PATH]
Cores from $SPARK_GRAFT_CPUS (default: all), heap from
$SPARK_DRIVER_MEMORY (default 8g).
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIM = 64
N_SUB, N_CODES = 8, 16  # overridable via --nsub/--ncodes
TRAIN_SAMPLE = 10_000
SWEEP = [
    # (n_probe, rerank_k)
    (1, None), (2, None), (4, None), (8, None), (16, None), (32, None),
    (4, 100), (8, 100), (16, 100), (8, 30), (8, 300),
]
# latency-only sweep on the full replicated corpus (recall is
# degenerate there — see module docstring)
LATENCY_SWEEP = [(1, None), (8, None), (32, None), (8, 100)]


def _micro(mat: np.ndarray) -> np.ndarray:
    return np.round(np.round(mat.astype(np.float64), 6) * 1e6).astype(np.int64)


def _d2(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Squared L2 via the expansion trick — O(N*k) memory, not N*k*dim."""
    return (
        (X * X).sum(1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(1)[None, :]
    )


def _lloyd(X: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    cents = X[rng.choice(len(X), k, replace=False)].astype(np.float64)
    for _ in range(iters):
        assign = _d2(X.astype(np.float64), cents).argmin(1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                cents[c] = members.mean(0)
    return cents


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/tmp/jh_scale_30x"
    cells = int(next((a.split("=")[1] for a in sys.argv
                      if a.startswith("--cells=")), "32"))
    n_queries = int(next((a.split("=")[1] for a in sys.argv
                          if a.startswith("--queries=")), "64"))
    out = next((a.split("=", 1)[1] for a in sys.argv
                if a.startswith("--json=")), None)
    global N_SUB, N_CODES
    N_SUB = int(next((a.split("=")[1] for a in sys.argv
                      if a.startswith("--nsub=")), str(N_SUB)))
    N_CODES = int(next((a.split("=")[1] for a in sys.argv
                        if a.startswith("--ncodes=")), str(N_CODES)))
    if DIM % N_SUB:
        raise SystemExit(f"--nsub must divide dim {DIM}")
    sub_dim = DIM // N_SUB

    from pyspark.sql import functions as F

    from jobhouse_spark.operators.ann import ivf_pq_top_k, train_centroids
    from jobhouse_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")
    spark = get_spark(app_name="ivfpq_curve")

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n_total = emb.count()

    # replica collapse: one representative id per distinct content
    # (same exact-dedup groupBy as l1/l23c — md5 of the micro string)
    t0 = time.perf_counter()
    uniq = (
        emb.groupBy(F.md5(F.col("embedding").cast("string")).alias("_k"))
        .agg(F.min("vec_id").alias("vec_id"),
             F.first("embedding").alias("embedding"))
        .select("vec_id", "embedding")
    ).cache()
    n_uniq = uniq.count()
    wall_collapse = time.perf_counter() - t0

    # ---- training (both production paths), walls recorded ------------
    t0 = time.perf_counter()
    coarse_f = train_centroids(uniq, n_cells=cells, seed=42)
    coarse = [[int(round(round(x, 6) * 1e6)) for x in c] for c in coarse_f]
    wall_coarse = time.perf_counter() - t0

    t0 = time.perf_counter()
    sample = (
        uniq.orderBy("vec_id").limit(TRAIN_SAMPLE)
        .select("vec_id", "embedding").collect()
    )
    smat = _micro(np.array([r["embedding"] for r in sample]))
    codebooks = []
    for m in range(N_SUB):
        sub = smat[:, m * sub_dim:(m + 1) * sub_dim]
        cents = _lloyd(sub, N_CODES, iters=12, seed=m)
        codebooks.append([[int(round(x)) for x in c] for c in cents])
    wall_pq = time.perf_counter() - t0
    print(f"corpus n={n_total}, unique contents={n_uniq} "
          f"(collapse {wall_collapse:.1f}s); trained coarse k={cells} via "
          f"pyspark.ml in {wall_coarse:.1f}s, {N_SUB}x{N_CODES} PQ "
          f"codebooks on {len(sample)} samples in {wall_pq:.1f}s")

    # ---- ground truth over UNIQUE contents (exact integer dot) -------
    allv = uniq.collect()
    ids = np.array([r["vec_id"] for r in allv])
    micro = _micro(np.array([r["embedding"] for r in allv]))
    rng = np.random.default_rng(7)
    q_ids = sorted(int(ids[i]) for i in rng.choice(len(ids), n_queries,
                                                   replace=False))
    by_pos = {int(v): i for i, v in enumerate(ids)}
    thresh, dots_by_q = {}, {}
    for qid in q_ids:
        dots = micro @ micro[by_pos[qid]]
        dots_by_q[qid] = dots.copy()
        dots[by_pos[qid]] = np.iinfo(np.int64).min  # leave-self-out
        thresh[qid] = np.partition(dots, -10)[-10]  # 10th-best exact dot

    probes = uniq.filter(F.col("vec_id").isin(q_ids)).cache()
    probes.count()

    # ---- recall sweep on the unique corpus ----------------------------
    recall_rows = []
    for n_probe, rerank in SWEEP:
        t0 = time.perf_counter()
        got = (
            ivf_pq_top_k(probes, uniq, coarse, codebooks, k=10,
                         n_probe=n_probe, rerank_k=rerank)
            .groupBy("query_id")
            .agg(F.collect_list("neighbor_id").alias("nbrs"))
            .collect()
        )
        wall = time.perf_counter() - t0
        recs = [
            sum(1 for n in r["nbrs"]
                if dots_by_q[int(r["query_id"])][by_pos[int(n)]]
                >= thresh[int(r["query_id"])]) / 10.0
            for r in got
        ]
        rec = float(np.mean(recs)) if recs else 0.0
        recall_rows.append({"n_probe": n_probe, "rerank_k": rerank,
                            "recall_at_10": round(rec, 3),
                            "wall_sec": round(wall, 2)})
        print(f"unique  n_probe={n_probe:>2} rerank={str(rerank):>4}: "
              f"recall@10={rec:.3f} wall={wall:.1f}s")

    # ---- latency sweep on the FULL replicated corpus ------------------
    latency_rows = []
    for n_probe, rerank in LATENCY_SWEEP:
        t0 = time.perf_counter()
        n_out = ivf_pq_top_k(probes, emb, coarse, codebooks, k=10,
                             n_probe=n_probe, rerank_k=rerank).count()
        wall = time.perf_counter() - t0
        latency_rows.append({"n_probe": n_probe, "rerank_k": rerank,
                             "wall_sec": round(wall, 2), "rows": n_out})
        print(f"full    n_probe={n_probe:>2} rerank={str(rerank):>4}: "
              f"wall={wall:.1f}s ({n_out} rows)")

    summary = {
        "metric": "ivfpq_curve", "sf_dir": sf_dir, "n_vectors": n_total,
        "n_unique": n_uniq, "cells": cells, "n_sub": N_SUB,
        "n_codes": N_CODES, "train_sample": len(sample),
        "n_queries": n_queries,
        "wall_collapse": round(wall_collapse, 1),
        "wall_train_coarse": round(wall_coarse, 1),
        "wall_train_pq": round(wall_pq, 1),
        "recall_on_unique": recall_rows,
        "latency_on_replicated": latency_rows,
    }
    print(json.dumps(summary))
    if out:
        with open(out, "w") as f:
            json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
