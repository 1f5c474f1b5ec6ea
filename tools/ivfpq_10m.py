"""IVF-PQ stored-index lifecycle at the 10M-vector rung (round 12).

tools/ivfpq_curve.py measures the recall/latency operating curve at
30x (60k vectors); this tool runs the full STORED-INDEX lifecycle —
build, append, drift detection, retrain — at the cardinality the
100 TB mandate implies, on a synthetic clustered corpus generated
entirely Spark-side (no driver-side vectors):

  vector(i) = normalize(mu(cluster(i)) + noise(i)), cluster centers
  hash-derived, ~30 members per cluster (see gen's docstring for why
  that cardinality and what drift shape the batch uses). The DRIFT
  batch shifts region — the append-stops-being-enough scenario
  SCALE.md's codebook-drift guidance describes. All index encodes opt
  into strategy="vectorized" (the bulk-build fast path; registry-scale
  plans keep the JVM-pure expr default).

Measured, in order:
  1. build wall: coarse KMeans on a sample (FAISS practice) + PQ
     Lloyd on a sample + one-pass pq_build_index + partitioned write;
  2. append marginal cost: pq_index_append of the drift batch against
     FROZEN books vs what a full rebuild costs;
  3. the DRIFT TRIGGER actually computed: per-batch mean squared
     quantization error (pq_reconstruct vs true vector) for the base
     sample vs the drift batch — the >20-30% rise rule from SCALE.md,
     executed rather than documented;
  4. recall@10 (tie-tolerant, leave-self-out, exact integer-dot
     ground truth computed distributed) for base-region and
     drift-region queries BEFORE the retrain...
  5. ...then the retrain rehearsal: new coarse + PQ books trained on
     a sample of the CURRENT corpus (incl. drift), side-by-side
     rebuild to a NEW root (the atomic-swap pattern), and the same
     recall measurement AFTER — the before/after delta is the point.

Usage:
  python tools/ivfpq_10m.py [--n=10000000] [--batch=100000]
         [--cells=96] [--queries=16] [--json=PATH] [--keep=1]
Cores from $SPARK_GRAFT_CPUS (default: all), heap from
$SPARK_DRIVER_MEMORY (default 12g).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.ivfpq_curve import _lloyd, _micro  # noqa: E402

DIM = 64
N_SUB, N_CODES = 8, 16
CLUSTER_SIZE = 30  # members per true cluster (see gen docstring)


def main() -> None:
    opt = {a.split("=")[0][2:]: a.split("=", 1)[1]
           for a in sys.argv[1:] if a.startswith("--") and "=" in a}
    n_base = int(opt.get("n", "10000000"))
    n_batch = int(opt.get("batch", "100000"))
    cells = int(opt.get("cells", "96"))
    n_q = int(opt.get("queries", "16"))  # per region

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "12g")
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from jobhouse_spark.functions.vectors import dot_micro, micro_vec
    from jobhouse_spark.operators.ann import (
        ivf_pq_search,
        pq_build_index,
        pq_index_append,
        pq_reconstruct,
        pq_write_index,
        train_centroids,
    )
    from jobhouse_spark.session import get_spark

    spark = get_spark(app_name="ivfpq_10m",
                      extra_conf={"spark.sql.shuffle.partitions": "64"})

    base = "/tmp/jh_ivfpq_10m"
    os.makedirs(base, exist_ok=True)

    def gen(ids, c_lo: int, c_span: int, drift: bool = False):
        """(vec_id, embedding): clustered UNIT vectors, pure codegen —
        component = center(cluster, d) + noise(id, d), then L2
        normalization. Unit norm makes max-dot search equivalent to
        min-L2 (the cosine-embedding regime real corpora live in), so
        the IVF cell routing — nearest centroids by L2 — is the right
        router for the dot-product ground truth. Cluster cardinality
        ~30 members: the exact top-10 then sits inside a clear
        cosine gap (mates ~0.97 vs foreign ~<0.5) that ADC routes and
        the rerank point-fetch resolves — a corpus whose top-10 is
        separated only by sub-quantization noise (the first cut of
        this tool: 1000-member clusters) measures PQ resolution, not
        index quality. ``drift=True`` draws centers MOSTLY-POSITIVE
        (|mu| with a 25% per-(cluster,dim) sign flip): the region mean
        shifts hard toward the positive cone — symmetric-trained
        codebooks mis-cover it and the coarse cells skew — while
        different drift clusters keep ~0.2 mutual cosine, so the
        mates-vs-foreign gap survives and a retrain CAN recover
        recall. (Two rejected drift shapes, kept as negative results:
        a full positive-octant shift collapses all drift vectors to
        ~0.75 mutual cosine — mates sink inside ADC noise and no
        codebook at this bit budget recovers them; a variance-profile
        shift trips the MSE trigger but never degrades recall at this
        gap. The mostly-positive shape is the one that both degrades
        and recovers.)"""
        cluster = F.pmod(F.hash(F.col("id"), F.lit(1)), F.lit(c_span)) + F.lit(c_lo)
        d = F.sequence(F.lit(1), F.lit(DIM))

        def comp(dd):
            mu = (F.pmod(F.hash(cluster, dd, F.lit(2)), F.lit(2001)) - 1000) \
                .cast("double")
            if drift:
                flip = F.when(
                    F.pmod(F.hash(cluster, dd, F.lit(4)), F.lit(4)) == 0,
                    F.lit(-1.0),
                ).otherwise(F.lit(1.0))
                mu = F.abs(mu) * flip
            return (
                mu + (F.pmod(F.hash(F.col("id"), dd, F.lit(3)), F.lit(201)) - 100)
            ).cast("double") / 1000.0
        raw = F.transform(d, comp)
        norm = F.sqrt(F.aggregate(raw, F.lit(0.0), lambda a, v: a + v * v))
        vec = F.transform(raw, lambda v: v / norm)
        return ids.select(F.col("id").alias("vec_id"), vec.alias("embedding"))

    # ---- corpus ------------------------------------------------------
    t0 = time.perf_counter()
    corpus_path = f"{base}/corpus"
    if not os.path.isdir(corpus_path):
        gen(spark.range(n_base), 0, max(1, n_base // CLUSTER_SIZE)) \
            .write.mode("overwrite").parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    wall_gen = round(time.perf_counter() - t0, 1)

    # ---- training (both paths on SAMPLES — the FAISS practice) -------
    t0 = time.perf_counter()
    train_df = corpus.sample(0.02, seed=5).limit(200_000)
    coarse_f = train_centroids(train_df, n_cells=cells, seed=42)
    coarse = [[int(round(round(x, 6) * 1e6)) for x in c] for c in coarse_f]
    wall_coarse = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    sample_rows = corpus.sample(0.01, seed=6).limit(50_000).collect()
    smat = _micro(np.array([r["embedding"] for r in sample_rows]))
    sub_dim = DIM // N_SUB

    def train_pq(mat):
        return [
            [[int(round(x)) for x in c]
             for c in _lloyd(mat[:, m * sub_dim:(m + 1) * sub_dim],
                             N_CODES, iters=12, seed=m)]
            for m in range(N_SUB)
        ]

    codebooks = train_pq(smat)
    wall_pq = round(time.perf_counter() - t0, 1)
    print(f"gen {wall_gen}s; coarse {wall_coarse}s; pq {wall_pq}s",
          flush=True)

    # ---- build + partitioned write -----------------------------------
    root_v1 = f"{base}/index_v1"
    shutil.rmtree(root_v1, ignore_errors=True)
    t0 = time.perf_counter()
    pq_write_index(pq_build_index(corpus, coarse, codebooks,
                                  strategy="vectorized"), root_v1)
    wall_build = round(time.perf_counter() - t0, 1)
    print(f"build+write {wall_build}s", flush=True)

    # ---- drift batch + append (frozen books) -------------------------
    batch_path = f"{base}/batch"
    gen(spark.range(n_base, n_base + n_batch), 1_000_000_000,
        max(1, n_batch // CLUSTER_SIZE), drift=True) \
        .write.mode("overwrite").parquet(batch_path)
    batch = spark.read.parquet(batch_path)
    t0 = time.perf_counter()
    pq_index_append(batch, root_v1, coarse, codebooks, strategy="vectorized")
    wall_append = round(time.perf_counter() - t0, 1)
    print(f"append {wall_append}s", flush=True)
    full = corpus.unionByName(batch)

    # ---- the drift TRIGGER, computed ---------------------------------
    def batch_mse(df, cents, books, n=20_000):
        mv = micro_vec(F.col("embedding"))
        enc = pq_build_index(df.limit(n), cents, books, strategy="vectorized")
        rec = pq_reconstruct(F.col("codes"), books)
        joined = enc.join(df.limit(n), "vec_id").select(
            F.aggregate(
                F.zip_with(mv, rec, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("double"), lambda acc, v: acc + v,
            ).alias("se")
        )
        return float(joined.agg(F.avg("se")).first()[0])

    mse_base = batch_mse(corpus, coarse, codebooks)
    mse_drift = batch_mse(batch, coarse, codebooks)
    drift_ratio = mse_drift / mse_base
    mse_tripped = drift_ratio > 1.25  # SCALE.md's 20-30% rule, middle

    # trigger 2 (SCALE.md guidance): cell-occupancy skew of the
    # appended batch — drifted data concentrates in the few cells
    # nearest its region, eroding n_probe pruning even when per-vector
    # MSE looks fine (measured here: the positive-octant batch's MSE
    # RATIO stays ~1 while recall drops — skew is the trigger that
    # actually fires)
    def batch_skew(df):
        occ = (pq_build_index(df, coarse, codebooks, strategy="vectorized")
               .groupBy("cell").count().select("count").collect())
        counts = [r["count"] for r in occ]
        return (max(counts) * len(coarse)) / sum(counts)

    skew_base = batch_skew(corpus.limit(50_000))
    skew_drift = batch_skew(batch)
    skew_tripped = skew_drift > 2.0 * skew_base
    tripped = mse_tripped or skew_tripped
    print(f"MSE base={mse_base:.3e} drift={mse_drift:.3e} "
          f"ratio={drift_ratio:.2f} mse_tripped={mse_tripped}; "
          f"skew base={skew_base:.1f} drift={skew_drift:.1f} "
          f"skew_tripped={skew_tripped}", flush=True)

    # ---- recall machinery --------------------------------------------
    rng = np.random.default_rng(11)
    q_base = sorted(int(x) for x in rng.choice(n_base, n_q, replace=False))
    q_drift = sorted(int(x) for x in
                     rng.choice(np.arange(n_base, n_base + n_batch),
                                n_q, replace=False))
    q_ids = q_base + q_drift
    probes = full.filter(F.col("vec_id").isin(q_ids)).cache()
    probes.count()

    # exact integer-dot ground truth, DISTRIBUTED (no 10M collect):
    # threshold per query = 10th-best exact dot, leave-self-out
    mvq = micro_vec(F.col("embedding"))
    qvecs = probes.select(F.col("vec_id").alias("query_id"),
                          mvq.alias("q_vec"))
    pairs = full.select(F.col("vec_id").alias("neighbor_id"),
                        mvq.alias("c_vec")) \
        .crossJoin(F.broadcast(qvecs)) \
        .filter(F.col("neighbor_id") != F.col("query_id")) \
        .withColumn("dot", dot_micro(F.col("q_vec"), F.col("c_vec")))
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc())
    t0 = time.perf_counter()
    top10 = (pairs.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= 10)
             .select("query_id", "neighbor_id", "dot").collect())
    wall_gt = round(time.perf_counter() - t0, 1)
    thresh = {}
    for r in top10:
        thresh[r.query_id] = min(thresh.get(r.query_id, float("inf")), r.dot)
    print(f"ground truth {wall_gt}s", flush=True)

    def measure_recall(index_root, cents, books, n_probe=8, rerank=True):
        t0 = time.perf_counter()
        idx = spark.read.parquet(index_root)
        got = (
            ivf_pq_search(probes, idx, cents, books, k=10, n_probe=n_probe,
                          corpus=full if rerank else None,
                          rerank_k=50 if rerank else None)
            .select("query_id", "neighbor_id").collect()
        )
        wall = round(time.perf_counter() - t0, 1)
        # exact dot of returned pairs via point-fetch of their vectors
        need = sorted({r.neighbor_id for r in got} | set(q_ids))
        vec_by_id = {
            r.vec_id: np.array(r.mv, dtype=np.int64)
            for r in full.filter(F.col("vec_id").isin(need))
            .select("vec_id", mvq.alias("mv")).collect()
        }
        hits = {"b": 0, "d": 0}
        rows = {"b": 0, "d": 0}
        for r in got:
            reg = "b" if r.query_id < n_base else "d"
            rows[reg] += 1
            d = int(vec_by_id[r.query_id] @ vec_by_id[r.neighbor_id])
            if d >= thresh[r.query_id]:
                hits[reg] += 1
        print(f"  rows returned: base={rows['b']} drift={rows['d']}",
              flush=True)
        return (round(hits["b"] / (10.0 * n_q), 3),
                round(hits["d"] / (10.0 * n_q), 3), wall)

    # ---- nprobe sweep (round 13, VERDICT r12 task 3): locate the
    # recall/wall knee instead of measuring one generous point. Each
    # row = (n_probe, rerank?) -> (recall_base, recall_drift, wall);
    # the ADC-only row shows what the refine stage buys at this scale.
    sweep_probes = [int(x) for x in opt.get("sweep", "1,2,4,8").split(",")]
    sweep_before = []
    for np_ in sweep_probes:
        rb, rd, wsec = measure_recall(root_v1, coarse, codebooks, n_probe=np_)
        sweep_before.append({"n_probe": np_, "rerank": True,
                             "recall_base": rb, "recall_drift": rd,
                             "search_wall_s": wsec})
        print(f"  sweep before: n_probe={np_} base={rb} drift={rd} "
              f"{wsec}s", flush=True)
    rb, rd, wsec = measure_recall(root_v1, coarse, codebooks,
                                  n_probe=sweep_probes[-1], rerank=False)
    sweep_before.append({"n_probe": sweep_probes[-1], "rerank": False,
                         "recall_base": rb, "recall_drift": rd,
                         "search_wall_s": wsec})
    print(f"  sweep before: ADC-only n_probe={sweep_probes[-1]} "
          f"base={rb} drift={rd} {wsec}s", flush=True)

    # the KNEE: smallest nprobe whose BASE recall clears 0.95 — the
    # drift delta is then measured where the operating point actually
    # sits, not at a saturation point that hides it
    knee = next((row["n_probe"] for row in sweep_before
                 if row["rerank"] and row["recall_base"] >= 0.95),
                sweep_probes[-1])
    knee_row = next(r for r in sweep_before
                    if r["rerank"] and r["n_probe"] == knee)
    rec_base_before = knee_row["recall_base"]
    rec_drift_before = knee_row["recall_drift"]
    print(f"knee: n_probe={knee}; recall BEFORE retrain at knee: "
          f"base={rec_base_before} drift={rec_drift_before}", flush=True)

    # ---- retrain rehearsal (side-by-side rebuild, atomic swap) -------
    t0 = time.perf_counter()
    train2 = full.sample(0.02, seed=7).limit(200_000)
    coarse2_f = train_centroids(train2, n_cells=cells, seed=43)
    coarse2 = [[int(round(round(x, 6) * 1e6)) for x in c] for c in coarse2_f]
    s2 = full.sample(0.01, seed=8).limit(50_000).collect()
    codebooks2 = train_pq(_micro(np.array([r["embedding"] for r in s2])))
    root_v2 = f"{base}/index_v2"
    shutil.rmtree(root_v2, ignore_errors=True)
    pq_write_index(pq_build_index(full, coarse2, codebooks2,
                                  strategy="vectorized"), root_v2)
    wall_retrain = round(time.perf_counter() - t0, 1)
    print(f"retrain+rebuild {wall_retrain}s", flush=True)

    sweep_after = []
    for np_ in sweep_probes:
        rb, rd, wsec = measure_recall(root_v2, coarse2, codebooks2,
                                      n_probe=np_)
        sweep_after.append({"n_probe": np_, "rerank": True,
                            "recall_base": rb, "recall_drift": rd,
                            "search_wall_s": wsec})
        print(f"  sweep after: n_probe={np_} base={rb} drift={rd} "
              f"{wsec}s", flush=True)
    after_knee = next(r for r in sweep_after if r["n_probe"] == knee)
    rec_base_after = after_knee["recall_base"]
    rec_drift_after = after_knee["recall_drift"]
    mse_drift_after = batch_mse(batch, coarse2, codebooks2)
    print(f"recall AFTER retrain at knee n_probe={knee}: "
          f"base={rec_base_after} drift={rec_drift_after}", flush=True)

    summary = {
        "metric": "ivfpq_10m",
        "n_base": n_base, "n_batch": n_batch, "dim": DIM,
        "cells": cells, "n_sub": N_SUB, "n_codes": N_CODES,
        "wall_gen": wall_gen, "wall_train_coarse": wall_coarse,
        "wall_train_pq": wall_pq, "wall_build_write": wall_build,
        "wall_append": wall_append,
        "append_vs_rebuild": round(wall_append / max(1e-9, wall_build), 3),
        "mse_base": mse_base, "mse_drift": mse_drift,
        "drift_mse_ratio": round(drift_ratio, 2),
        "drift_mse_tripped": bool(mse_tripped),
        "cell_skew_base": round(skew_base, 1),
        "cell_skew_drift": round(skew_drift, 1),
        "drift_skew_tripped": bool(skew_tripped),
        "drift_tripped": bool(tripped),
        "mse_drift_after_retrain": mse_drift_after,
        "wall_ground_truth": wall_gt,
        "sweep_before": sweep_before,
        "sweep_after": sweep_after,
        "knee_n_probe": knee,
        "recall_base_before": rec_base_before,
        "recall_drift_before": rec_drift_before,
        "wall_retrain_rebuild": wall_retrain,
        "recall_base_after": rec_base_after,
        "recall_drift_after": rec_drift_after,
        "n_queries_per_region": n_q,
    }
    print(json.dumps(summary))
    out = opt.get("json")
    if out:
        with open(out, "w") as f:
            json.dump(summary, f, indent=1)
    if opt.get("keep") != "1":
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
