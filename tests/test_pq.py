"""Behavioral tests for the IVF-PQ family (operators/ann.py l27/l27b).

The registry entries pin the MECHANISM to a DuckDB replica with seeded
codebooks; these tests exercise the QUALITY contract — the same
operators with codebooks actually trained on the corpus (numpy Lloyd,
test-side stand-in for the l26 kmeans_refine production path) must
quantize better than seeded ones and retrieve most of the exact top-k.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from jobhouse_spark.operators.ann import (
    ivf_fixed_centroids,
    ivf_pq_top_k,
    pq_encode,
    pq_fixed_codebooks,
    pq_reconstruct,
)

N_SUB, N_CODES, SUB_DIM, DIM = 8, 16, 8, 64


def _micro(mat: np.ndarray) -> np.ndarray:
    """numpy twin of functions.vectors.micro_vec — close enough for the
    tolerance-based tests here (exact boundary rounding is the oracle
    hash-check's job, not this twin's): round to 6 decimals, scale."""
    return np.asarray(
        [[int(round(round(float(x), 6) * 1_000_000)) for x in row] for row in mat],
        dtype=np.int64,
    )


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, mat


def _train_codebooks(mat: np.ndarray, seed: int = 0, iters: int = 12) -> list[list[list[int]]]:
    """Per-subspace Lloyd k-means over micro-unit integers; centroids
    rounded back to ints so the operator's exact-integer path applies."""
    rng = np.random.default_rng(seed)
    micro = _micro(mat).astype(np.float64)
    cbs = []
    for m in range(N_SUB):
        sub = micro[:, m * SUB_DIM : (m + 1) * SUB_DIM]
        cents = sub[rng.choice(len(sub), N_CODES, replace=False)].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(N_CODES):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        cbs.append([[int(round(x)) for x in c] for c in cents])
    return cbs


def _quant_error(mat: np.ndarray, cbs: list[list[list[int]]]) -> float:
    micro = _micro(mat)
    err = 0.0
    for m in range(N_SUB):
        sub = micro[:, m * SUB_DIM : (m + 1) * SUB_DIM].astype(np.float64)
        cents = np.asarray(cbs[m], dtype=np.float64)
        d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        err += d2.min(axis=1).sum()
    return err


@pytest.mark.campaign  # round-15 verdict task 1: driver verify-window
def test_codes_deterministic_and_in_range(spark, sf_dir):
    emb_df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cbs = pq_fixed_codebooks(7, N_SUB, N_CODES, SUB_DIM)
    a = pq_encode(emb_df, cbs).orderBy("vec_id").collect()
    b = pq_encode(emb_df, cbs).orderBy("vec_id").collect()
    assert a == b
    for r in a:
        assert len(r["codes"]) == N_SUB
        assert all(0 <= c < N_CODES for c in r["codes"])


@pytest.mark.campaign  # round-15 verdict task 1: driver verify-window
def test_reconstruct_matches_numpy(spark, sf_dir, emb):
    """Spark's literal-array reconstruction == numpy lookup of the same
    codes — pins pq_reconstruct's indexing (1-based element_at over the
    (sub, code) nesting) against an independent implementation."""
    ids, mat = emb
    cbs = pq_fixed_codebooks(7, N_SUB, N_CODES, SUB_DIM)
    emb_df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = (
        pq_encode(emb_df, cbs)
        .select("vec_id", "codes", pq_reconstruct(F.col("codes"), cbs).alias("recon"))
        .orderBy("vec_id")
        .collect()
    )
    cb_arr = [np.asarray(cb, dtype=np.int64) for cb in cbs]
    for r in got[:50]:
        expect = np.concatenate([cb_arr[m][r["codes"][m]] for m in range(N_SUB)])
        assert list(expect) == list(r["recon"])


def test_trained_codebooks_quantize_better(emb):
    _, mat = emb
    seeded = pq_fixed_codebooks(7, N_SUB, N_CODES, SUB_DIM)
    trained = _train_codebooks(mat)
    assert _quant_error(mat, trained) < 0.5 * _quant_error(mat, seeded)


def _mean_recall(spark, sf_dir, emb, trained, **kw) -> float:
    ids, mat = emb
    cents = ivf_fixed_centroids(42, 8, DIM)
    emb_df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = emb_df.filter(F.col("vec_id") < 20)
    got = (
        ivf_pq_top_k(probes, emb_df, cents, trained, k=10, n_probe=8, **kw)
        .groupBy("query_id")
        .agg(F.collect_set("neighbor_id").alias("got"))
        .collect()
    )
    micro = _micro(mat).astype(np.float64)
    by_id = {int(i): micro[n] for n, i in enumerate(ids)}
    recalls = []
    for r in got:
        q = by_id[int(r["query_id"])]
        dots = micro @ q
        order = [
            int(ids[j])
            for j in np.argsort(-dots, kind="stable")
            if int(ids[j]) != int(r["query_id"])
        ]
        recalls.append(len(set(order[:10]) & set(r["got"])) / 10.0)
    return float(np.mean(recalls))


@pytest.mark.campaign  # round-15 verdict task 1: driver verify-window
def test_trained_rerank_recall_vs_exact(spark, sf_dir, emb):
    """The production shape — trained codebooks, ADC shortlist of 100,
    exact re-rank — must put most of the exact integer-dot top-10 in
    its top-10, and must beat ADC alone (which is a shortlist
    generator, not a ranker: measured ~0.28 on this corpus vs ~0.85
    with the re-rank). Probing ALL cells isolates PQ quantization from
    IVF pruning. Thresholds sit well under measured — they guard
    regressions, not luck."""
    _, mat = emb
    trained = _train_codebooks(mat)
    adc_only = _mean_recall(spark, sf_dir, emb, trained)
    reranked = _mean_recall(spark, sf_dir, emb, trained, rerank_k=100)
    assert reranked >= 0.6, f"rerank recall@10 {reranked:.2f}"
    assert reranked > adc_only, f"rerank {reranked:.2f} <= adc {adc_only:.2f}"


def _train_coarse(mat: np.ndarray, k: int = 8, iters: int = 10,
                  seed: int = 3) -> list[list[int]]:
    """Trained coarse quantizer (numpy Lloyd over full micro vectors) —
    the test-side twin of operators.ann.train_centroids, in the
    integer-micro form ivf_pq_top_k consumes."""
    rng = np.random.default_rng(seed)
    X = _micro(mat).astype(np.float64)
    cents = X[rng.choice(len(X), k, replace=False)].copy()
    for _ in range(iters):
        d2 = ((X * X).sum(1)[:, None] - 2.0 * (X @ cents.T)
              + (cents * cents).sum(1)[None, :])
        assign = d2.argmin(1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                cents[c] = members.mean(0)
    return [[int(round(x)) for x in c] for c in cents]


def test_trained_coarse_partial_probe_recall(spark, sf_dir, emb):
    """The FULL trained operating point — trained coarse quantizer AND
    trained PQ codebooks, partial probing (4 of 8 cells), shortlist
    100 + exact re-rank — must still hold most of the exact top-10.
    This is the fixed config the 30x operating-curve table
    (SCALE.md, "IVF-PQ trained-codebook operating curve") anchors to; unlike
    test_trained_rerank_recall_vs_exact it does NOT probe all cells,
    so IVF routing error is inside the measurement. Threshold guards
    regressions, not luck (measured well above it)."""
    ids, mat = emb
    trained_pq = _train_codebooks(mat)
    coarse = _train_coarse(mat, k=8)
    emb_df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = emb_df.filter(F.col("vec_id") < 20)
    got = (
        ivf_pq_top_k(probes, emb_df, coarse, trained_pq, k=10,
                     n_probe=4, rerank_k=100)
        .groupBy("query_id")
        .agg(F.collect_set("neighbor_id").alias("got"))
        .collect()
    )
    micro = _micro(mat).astype(np.float64)
    by_id = {int(i): micro[n] for n, i in enumerate(ids)}
    recalls = []
    for r in got:
        q = by_id[int(r["query_id"])]
        dots = micro @ q
        order = [
            int(ids[j])
            for j in np.argsort(-dots, kind="stable")
            if int(ids[j]) != int(r["query_id"])
        ]
        recalls.append(len(set(order[:10]) & set(r["got"])) / 10.0)
    rec = float(np.mean(recalls))
    assert rec >= 0.5, f"trained partial-probe recall@10 {rec:.2f}"


def test_vectorized_encode_equals_expr(spark, sf_dir):
    """The Arrow-batched encoder (round 12) must be BIT-IDENTICAL to
    the literal-expression path on every row: both consume the JVM
    micro_vec output, every distance key is an exact integer below
    2^53 (exactly representable in float64), and ties break on the
    lowest index in both. Checked over the full sf embeddings table —
    any (cell, codes) divergence fails."""
    from jobhouse_spark.operators.ann import pq_build_index

    emb_df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_fixed_centroids(42, 8, DIM)
    cbs = pq_fixed_codebooks(7, N_SUB, N_CODES, SUB_DIM)
    expr = pq_build_index(emb_df, cents, cbs, strategy="expr")
    vec = pq_build_index(emb_df, cents, cbs, strategy="vectorized")
    a = {r.vec_id: (r.cell, tuple(r.codes)) for r in expr.collect()}
    b = {r.vec_id: (r.cell, tuple(r.codes)) for r in vec.collect()}
    assert len(a) > 0 and a == b


def test_stored_index_search_matches_inline(spark, sf_dir, tmp_path):
    """The production split — pq_build_index written to parquet, read
    back, served by ivf_pq_search — must return exactly what the
    self-contained ivf_pq_top_k plan returns (with and without the
    rerank point-fetch). This pins the stored-index path the 30x curve
    argues for (featurize once, amortize across query batches)."""
    from jobhouse_spark.operators.ann import ivf_pq_search, pq_build_index

    emb_df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_fixed_centroids(42, 8, DIM)
    cbs = pq_fixed_codebooks(7, N_SUB, N_CODES, SUB_DIM)
    probes = emb_df.filter(F.col("vec_id") < 10)

    idx_path = str(tmp_path / "pq_index")
    pq_build_index(emb_df, cents, cbs).write.parquet(idx_path)
    stored = spark.read.parquet(idx_path)

    for rerank in (None, 50):
        inline = sorted(map(tuple, ivf_pq_top_k(
            probes, emb_df, cents, cbs, k=10, n_probe=4, rerank_k=rerank
        ).collect()))
        split = sorted(map(tuple, ivf_pq_search(
            probes, stored, cents, cbs, k=10, n_probe=4,
            corpus=emb_df if rerank else None, rerank_k=rerank
        ).collect()))
        assert split == inline and len(split) > 0


@pytest.mark.campaign  # round-15 verdict task 1: driver verify-window
def test_index_append_equals_rebuild(spark, sf_dir, tmp_path):
    """Incremental maintenance (pq_index_append, round-10 l27e): a
    bootstrap build over half the corpus + an append of the other half
    must leave an index whose CONTENT and whose search results are
    identical to a from-scratch rebuild over the union — appends only
    featurize the new batch, so this is the whole correctness claim."""
    from jobhouse_spark.operators.ann import (
        ivf_pq_search,
        pq_build_index,
        pq_index_append,
        pq_write_index,
    )

    emb_df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_fixed_centroids(42, 8, DIM)
    cbs = pq_fixed_codebooks(7, N_SUB, N_CODES, SUB_DIM)
    probes = emb_df.filter(F.col("vec_id") < 10)

    inc_root = str(tmp_path / "idx_incremental")
    full_root = str(tmp_path / "idx_rebuild")
    pq_write_index(
        pq_build_index(emb_df.filter(F.col("vec_id") % 2 == 0), cents, cbs), inc_root
    )
    pq_index_append(emb_df.filter(F.col("vec_id") % 2 == 1), inc_root, cents, cbs)
    pq_write_index(pq_build_index(emb_df, cents, cbs), full_root)

    cols = ["vec_id", "cell", "codes"]
    inc = spark.read.parquet(inc_root).select(*cols)
    full = spark.read.parquet(full_root).select(*cols)
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, full.collect()))

    res_inc = sorted(map(tuple, ivf_pq_search(
        probes, inc, cents, cbs, k=10, n_probe=4
    ).collect()))
    res_full = sorted(map(tuple, ivf_pq_search(
        probes, full, cents, cbs, k=10, n_probe=4
    ).collect()))
    assert res_inc == res_full and len(res_inc) > 0


@pytest.mark.campaign  # round-15 verdict task 1: driver verify-window
def test_index_append_guard_makes_replay_idempotent(spark, sf_dir, tmp_path):
    """guard_duplicates: replaying the SAME batch (the failed-append
    retry scenario) with the guard on is a no-op — the stored index
    stays identical to a single append; without the guard the same
    replay would duplicate every vec_id (asserted too, so the guard is
    demonstrably load-bearing, not dead code)."""
    from jobhouse_spark.operators.ann import (
        pq_build_index,
        pq_index_append,
        pq_write_index,
    )

    emb_df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_fixed_centroids(42, 8, DIM)
    cbs = pq_fixed_codebooks(7, N_SUB, N_CODES, SUB_DIM)
    batch = emb_df.filter(F.col("vec_id") % 2 == 1)

    root = str(tmp_path / "idx_guard")
    pq_write_index(
        pq_build_index(emb_df.filter(F.col("vec_id") % 2 == 0), cents, cbs), root
    )
    pq_index_append(batch, root, cents, cbs)
    once = sorted(map(tuple, spark.read.parquet(root)
                      .select("vec_id", "cell", "codes").collect()))

    # retry with the guard: nothing changes
    pq_index_append(batch, root, cents, cbs, guard_duplicates=True)
    replay = sorted(map(tuple, spark.read.parquet(root)
                        .select("vec_id", "cell", "codes").collect()))
    assert replay == once

    # counter-proof: an unguarded replay corrupts (duplicates appear)
    pq_index_append(batch, root, cents, cbs)
    dup = spark.read.parquet(root).groupBy("vec_id").count().filter("count > 1")
    assert dup.count() > 0
