"""IVF-style approximate nearest neighbor (SURVEY L3 scale path).

Inverted-file (IVF) search, Spark-native:
1. Train a coarse quantizer (k-means over a sample) — driver-side
   centroids, tiny.
2. Assign every corpus vector to its nearest centroid (map-only;
   centroids as literal JVM expressions for small codebooks, as a
   numpy matrix in an Arrow-batched UDF closure for large ones —
   see nearest_cells).
3. At query time, probe the `n_probe` nearest centroid cells and score
   only vectors in those cells — a bucket-pruned join instead of a full
   scan. Recall/speed trades with n_probe.

Complementary to BucketedRandomProjectionLSH (operators/similarity.py):
IVF adapts to data distribution (clusters), LSH is data-independent.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jobhouse_spark.functions.vectors import dot_micro, dot_product, micro_vec


# Above this many literal components (n_cells x dim) the inlined
# expression tree stops being a win: analysis/codegen cost grows with
# plan size. 16 cells x 64 dims = 1024 stays comfortably under; 4096
# cells x 768 dims would be a 3M-node plan — that's the UDF's job.
_EXPR_COMPONENT_LIMIT = 8192

# Target rows per cell sub-shard in semantic_dedup's pair stage: a
# same-shard task tests ~_PAIR_SHARD_ROWS^2/2 integer dots at the
# measured ~2-7 us each (interpreted HOF + decimal threshold), i.e.
# single-digit seconds per task, small enough that no one task
# dominates a stage even when one cell holds most of the corpus.
_PAIR_SHARD_ROWS = 1500


def _nearest_centroid_expr(
    vec_col, centroids: list[list[float]], k: int = 1, integer_micro: bool = False
):
    """Column expr: indices of the k nearest centroids by squared L2 —
    computed as JVM expressions over literal arrays. Map-only and
    whole-stage-codegen'd, but plan size is O(n_cells x dim): right for
    coarse quantizers (<= ~100 cells), wrong at 4096 cells — see
    _nearest_centroid_udf. ``integer_micro=True`` treats vec_col AND
    the centroids as int64 micro-unit vectors, making the assignment
    exact integer arithmetic (bit-reproducible by any engine — the
    oracle-checkable path; ties break on centroid index either way)."""
    if integer_micro:
        lit, zero = (lambda x: F.lit(int(x))), F.lit(0).cast("long")
    else:
        lit, zero = (lambda x: F.lit(float(x))), F.lit(0.0)
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    vec_col,
                    F.array(*[lit(x) for x in c]),
                    lambda a, b: (a - b) * (a - b),
                ),
                zero,
                lambda acc, v: acc + v,
            )
            for c in centroids
        ]
    )
    # indices of the k smallest distances
    idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1))
    pairs = F.zip_with(dists, idx, lambda d, i: F.struct(d.alias("d"), i.alias("i")))
    return F.slice(F.array_sort(pairs), 1, k).getField("i")


def _nearest_centroid_udf(vec_col, centroids: list[list[float]], k: int = 1):
    """Large-codebook cell assignment: the centroid matrix rides in the
    UDF closure (broadcast with the task, CONSTANT plan size), and each
    Arrow batch is assigned with one numpy matmul — still map-only, no
    shuffle. Ranking key ||c||^2 - 2 v.c equals squared L2 minus the
    per-row constant ||v||^2, so the ordering matches the expression
    path up to floating-point on near-ties (the two keys are different
    float computations, so near-equidistant vectors CAN land in
    different cells between strategies — which means strategy='auto'
    can change assignments for such vectors when a codebook crosses
    _EXPR_COMPONENT_LIMIT); exact ties break on centroid index in both
    (stable argsort). NULL vectors yield a NULL cell list, matching the
    expression path."""
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    cents = np.asarray(centroids, dtype=np.float64)  # (C, D)
    c_sq = (cents * cents).sum(axis=1)  # (C,)
    kk = min(k, len(centroids))

    @pandas_udf("array<int>")
    def cells(v: pd.Series) -> pd.Series:
        buf = np.empty(len(v), dtype=object)
        buf[:] = None
        mask = v.notna().to_numpy()
        if mask.any():
            mat = np.stack(v[mask].to_numpy()).astype(np.float64)  # (B, D)
            d2 = c_sq - 2.0 * (mat @ cents.T)  # (B, C)
            idx = np.argsort(d2, axis=1, kind="stable")[:, :kk]
            # positional (not pandas-masked) assignment: the values are
            # arrays, which putmask rejects as length-mismatched
            for pos, row in zip(np.flatnonzero(mask), idx.astype("int32")):
                buf[pos] = row
        return pd.Series(buf)

    return cells(vec_col.cast("array<double>"))


def nearest_cells(
    vec_col,
    centroids: list[list[float]],
    k: int = 1,
    strategy: str = "auto",
):
    """Indices of the k nearest centroids for each vector (array<int>
    Column). strategy: 'expr' inlines centroids as literal JVM
    expressions (codegen fast path, plan grows O(n_cells x dim));
    'udf' ships them in an Arrow-batched numpy closure (constant plan
    size, one matmul per batch); 'auto' picks by component count."""
    if strategy == "auto":
        n_components = len(centroids) * (len(centroids[0]) if centroids else 0)
        strategy = "expr" if n_components <= _EXPR_COMPONENT_LIMIT else "udf"
    if strategy == "expr":
        return _nearest_centroid_expr(vec_col, centroids, k)
    if strategy == "udf":
        return _nearest_centroid_udf(vec_col, centroids, k)
    raise ValueError(f"unknown strategy {strategy!r}")


def ivf_fixed_centroids(
    seed: int, n_cells: int, dim: int, component_range: int = 400_000
) -> list[list[int]]:
    """Deterministic integer micro-unit centroids for the
    oracle-checkable IVF path (see l3c2_ivf_checked) — data-independent,
    so a differential oracle can interpolate the SAME constants into
    its SQL. Production IVF uses train_centroids (k-means, adapted to
    the data); this family verifies the MECHANISM — cell assignment,
    probe expansion, bucket-pruned join, scoring, ranking — with the
    quantizer swapped for seeded constants (the l2c md5/xxhash64
    pattern). component_range defaults to ≈ the micro-unit span of
    unit-ish embedding components."""
    from jobhouse_spark.functions.hashing import seeded_int_matrix  # noqa: PLC0415

    return seeded_int_matrix(seed, n_cells, dim, component_range)


def train_centroids(
    corpus: DataFrame, vec_col: str = "embedding", n_cells: int = 16, seed: int = 42
) -> list[list[float]]:
    """K-means coarse quantizer via pyspark.ml (sampled fit)."""
    from pyspark.ml.clustering import KMeans  # noqa: PLC0415
    from pyspark.ml.functions import array_to_vector  # noqa: PLC0415

    feats = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=10).fit(feats)
    return [list(map(float, c)) for c in model.clusterCenters()]


def ivf_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]] | list[list[int]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_strategy: str = "auto",
    exact_micro: bool = False,
) -> DataFrame:
    """Probe the n_probe nearest cells per query; exact-score within.

    ``exact_micro=True`` is the oracle-checkable variant: ``centroids``
    must be INTEGER micro-unit vectors (ivf_fixed_centroids), both
    sides quantize via micro_vec, cell assignment is exact integer
    squared-L2 argmin, and ``score`` is the exact integer micro-unit
    dot — every step bit-reproducible by any SQL engine (see
    l3c2_ivf_checked). The join/probe/rank pipeline is the SAME code
    as the float path."""
    if exact_micro:
        # the exact path has no UDF fallback (its point is JVM-expression
        # bit-reproducibility), so refuse codebooks that would inline a
        # multi-million-node plan instead of hanging the driver
        n_components = len(centroids) * (len(centroids[0]) if centroids else 0)
        if n_components > _EXPR_COMPONENT_LIMIT:
            raise ValueError(
                f"exact_micro inlines centroids as literal expressions; "
                f"{n_components} components exceeds the "
                f"{_EXPR_COMPONENT_LIMIT}-component plan-size limit — use a "
                f"coarser codebook or the float path (strategy='udf')"
            )

        def vec(col):
            return micro_vec(col)

        def assign_cells(col, kk):
            return _nearest_centroid_expr(vec(col), centroids, k=kk, integer_micro=True)

        score_fn = dot_micro
    else:
        def vec(col):
            return col

        def assign_cells(col, kk):
            return nearest_cells(col, centroids, k=kk, strategy=assign_strategy)

        score_fn = dot_product
    assign = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        vec(F.col(vec_col)).alias("c_vec"),
        assign_cells(F.col(vec_col), 1)[0].alias("cell"),
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        vec(F.col(vec_col)).alias("q_vec"),
        F.explode(assign_cells(F.col(vec_col), n_probe)).alias("cell"),
    )
    pairs = assign.join(F.broadcast(probes), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.withColumn(
        "score", score_fn(F.col("q_vec"), F.col("c_vec"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "score", "rn")
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: list[list[int]],
    tau_sq_num: int = 49,
    tau_sq_den: int = 400,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pre_quantized: bool = False,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023 —
    public method: cluster embeddings, prune near-identical vectors
    WITHIN each cluster), exact-integer and oracle-checkable.

    1. Every vector quantizes to int64 micro-units and is assigned to
       its nearest integer centroid by exact squared-L2 argmin
       (map-only JVM expressions, ties break on centroid index).
    2. Within each cell — and ONLY within a cell; this is what bounds
       the pairwise cost, exactly as SemDeDup's k ∝ N clustering does —
       pairs are tested with the l7 exact cosine threshold:
       cos(a,b) >= τ evaluated as den·dot² >= num·‖a‖²·‖b‖² in integer
       arithmetic (128-bit only at the final compare; τ² = num/den).
    3. A vector is a DUPLICATE if some SMALLER-id vector in its cell
       clears the threshold (deterministic survivor election without
       transitive closure — the "keep one per group" SemDeDup policy
       as a one-pass, engine-reproducible contract; for cluster-level
       dedup compose with operators/graph.py as l15 does).

    Returns (vec_id, cell, is_duplicate) for every input vector.

    Range contract (inherited from the l7 test): embedding components
    must be unit-ish (|x| <= ~1, i.e. micro-units <= ~1e6) so dot² at
    dim 64 stays ~4e27, inside the DECIMAL(38,0) compare. Components of
    magnitude 1000 would push dot² past 1e38 and fail loudly under ANSI
    arithmetic (no silent wrap).

    Scale shape: one map-only assignment pass, one shuffle on cell,
    per-cell self-join bounded by cell population (n_cells grows with
    the corpus, as in the published method). No all-pairs anywhere.

    tau must be strictly positive: the ``dot > 0`` pre-filter (which
    keeps the squared compare orientation-safe) excludes orthogonal/
    negative-cosine pairs, so tau_sq_num = 0 ("any non-negative
    cosine") would silently drop the cos = 0 boundary — rejected at
    entry instead.
    """
    if tau_sq_num <= 0 or tau_sq_den <= 0:
        raise ValueError(
            "semantic_dedup requires a strictly positive threshold: "
            f"tau_sq_num={tau_sq_num}, tau_sq_den={tau_sq_den} (the dot > 0 "
            "pre-filter makes tau = 0 unrepresentable)"
        )
    from jobhouse_spark.functions.vectors import dot_micro, micro_vec  # noqa: PLC0415

    # Assignment strategy mirrors nearest_cells: literal JVM expressions
    # for small codebooks, the Arrow/numpy matmul for large ones. The
    # higher-order-function argmin is NOT codegen'd (CodegenFallback) —
    # measured ~26 ms/row at k=240 x dim 64 — so a k-proportional-to-N
    # codebook MUST take the udf path. For integer micro-unit inputs the
    # two are bit-identical, not merely close: every term (c², v·c,
    # their sums at dim 64) stays below 2^53, so the float64 matmul is
    # exact integer arithmetic and the ranking key c²-2v·c orders cells
    # identically to squared L2 (the ||v||² row constant cancels),
    # ties breaking on centroid index in both (stable argsort).
    n_components = len(centroids) * (len(centroids[0]) if centroids else 0)
    # pre_quantized: vec_col already holds micro-unit BIGINT arrays
    # (semantic_dedup_collapsed's representative frame) — skip the
    # quantization; the udf path's array<double> cast stays exact
    # because micro-unit magnitudes sit far below 2^53.
    mv = F.col(vec_col) if pre_quantized else micro_vec(F.col(vec_col))
    if n_components <= _EXPR_COMPONENT_LIMIT:
        cell = _nearest_centroid_expr(mv, centroids, k=1, integer_micro=True)[0]
    else:
        cell = _nearest_centroid_udf(mv, centroids, k=1)[0]
    assigned = corpus.select(
        F.col(id_col).alias("vec_id"), mv.alias("mv"), cell.alias("cell")
    )
    norms = assigned.withColumn("n2", dot_micro(F.col("mv"), F.col("mv")))
    # norms feeds THREE plan branches (both self-join sides + the final
    # flag join); without a barrier Catalyst inlines the quantization +
    # O(n_cells x dim) argmin into every branch — the same per-branch
    # recompute ngram_jaccard_pairs' capped path guards against. One
    # materialization = genuinely one assignment pass.
    from jobhouse_spark.materialize import materialize_barrier  # noqa: PLC0415

    norms = materialize_barrier(norms)

    # --- skew-proof pair enumeration (triangle sub-sharding) ---------
    # Task time in the pair stage is cell_pop^2/2 dot products, so ONE
    # hot cell serializes the whole stage: measured at 30x/k=240, the
    # top cell held 11k of 60k vectors = 64% of all 94M pairs in a
    # single task (829 s wall at <2 cores). Neither AQE remedy sees it:
    # size-based partition coalescing counts BYTES (60k vectors ~ 40 MB
    # -> folds partitions), and OptimizeSkewedJoin splits by partition
    # byte size too (~5 MB of hot-cell rows is far under any skew
    # threshold) — compute-per-pair is invisible to both. The classic
    # triangle scheme restores balance with EXACT semantics: split each
    # cell into S = ceil(pop / _PAIR_SHARD_ROWS) hash-buckets; bucket
    # pair (i, j), i <= j, is an independent join key, so a hot cell
    # becomes S(S+1)/2 bounded tasks instead of one quadratic one. A
    # row in bucket s joins as the A side for keys (s, j >= s) and as
    # the B side for keys (i <= s, s) — every unordered row pair meets
    # exactly once: cross-bucket pairs at (min, max) in fixed
    # orientation (no id condition; the duplicate is greatest(id)),
    # same-bucket pairs under a_id < b_id as before. Replication is
    # S+1 copies per hot-cell row — linear, vs the quadratic pair work
    # it parallelizes. Bucket choice (hash) affects only WHERE a pair
    # is tested, never the result, so the DuckDB oracle is unchanged.
    counts = norms.groupBy("cell").agg(F.count("*").alias("pop"))
    nsub = F.greatest(
        F.lit(1), F.ceil(F.col("pop") / F.lit(_PAIR_SHARD_ROWS))
    ).cast("int")
    sharded = norms.join(
        F.broadcast(counts.select("cell", nsub.alias("nsub"))), "cell"
    ).withColumn("sub", F.pmod(F.hash("vec_id"), F.col("nsub")).cast("int"))
    a = sharded.select(
        "cell",
        F.col("vec_id").alias("a_id"),
        F.col("mv").alias("a_mv"),
        F.col("n2").alias("na2"),
        F.col("sub").alias("s1"),
        F.explode(F.sequence(F.col("sub"), F.col("nsub") - 1)).alias("s2"),
    )
    b = sharded.select(
        "cell",
        F.col("vec_id").alias("b_id"),
        F.col("mv").alias("b_mv"),
        F.col("n2").alias("nb2"),
        F.explode(F.sequence(F.lit(0), F.col("sub"))).alias("s1"),
        F.col("sub").alias("s2"),
    )
    big = "decimal(38,0)"
    dot = dot_micro(F.col("a_mv"), F.col("b_mv"))
    dup_ids = (
        a.join(b, ["cell", "s1", "s2"])
        .filter((F.col("s1") < F.col("s2")) | (F.col("a_id") < F.col("b_id")))
        .select(
            F.greatest(F.col("a_id"), F.col("b_id")).alias("vec_id"),
            dot.alias("dot"),
            "na2",
            "nb2",
        )
        .filter(
            (F.col("dot") > 0)
            & (
                F.lit(tau_sq_den).cast(big)
                * F.col("dot").cast(big)
                * F.col("dot").cast(big)
                >= F.lit(tau_sq_num).cast(big)
                * F.col("na2").cast(big)
                * F.col("nb2").cast(big)
            )
        )
        .select("vec_id")
        .distinct()
    )
    return norms.join(
        dup_ids.withColumn("__dup", F.lit(True)), "vec_id", "left"
    ).select(
        "vec_id",
        "cell",
        F.coalesce(F.col("__dup"), F.lit(False)).alias("is_duplicate"),
    )


def semantic_dedup_collapsed(
    corpus: DataFrame,
    centroids: list[list[int]],
    tau_sq_num: int = 49,
    tau_sq_den: int = 400,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """semantic_dedup for replica-heavy corpora: collapse exact-identical
    vectors FIRST, run the pair stage on one representative per distinct
    content, then propagate verdicts back — the l1→l2 (l2d) composition
    lesson applied to SemDeDup. Measured motivation: on the 300x
    replicated corpus (600k vectors = 300 exact copies of each of 2000),
    direct semantic_dedup spends 2011 s because within-cell pair count
    grows ~C(300,2) per content (~90M pairs — the ANSWER growing, not
    the plan degrading); here the pair stage sees only distinct content,
    so its cost tracks UNIQUE corpus size at any replication factor.

    Returns (vec_id, cell, is_duplicate) BIT-IDENTICAL to
    semantic_dedup(corpus, ...) for every input vector. Proof, on the
    micro-quantized vectors mv (cell, dot, n2 are all pure functions of
    mv, so replicas share all three):

    - non-representative replica v of content X (rep x = min id < v):
      direct flags v via the pair (x, v) — same cell, dot = ‖X‖² > 0,
      test den·‖X‖⁴ ≥ num·‖X‖⁴ ⟺ den ≥ num (asserted; τ ≤ 1) — UNLESS
      ‖X‖ = 0, where the dot > 0 pre-filter rejects every pair
      involving v (a zero vector is never anyone's duplicate). Hence:
      replica is duplicate ⟺ mv has a nonzero component.
    - representative x: direct flags x iff some u with id(u) < x in
      cell(x) passes the pair test. u is a replica of some content Y
      with rep y = min id(Y) ≤ id(u) < x, cell(y) = cell(u), and the
      test depends only on (mvY, mvX) — so (y, x) is a rep-level
      witness; conversely a rep-level witness y < x is itself a direct
      witness. Hence rep verdicts from the collapsed pair stage equal
      direct verdicts.
    - NULL embeddings: NULL mv groups together; the rep's NULL cell and
      false verdict propagate through the null-safe join, matching
      direct's (NULL cell, false) rows.

    Scale shape: one quantization map + one groupBy(mv) shuffle (the
    exact-dedup), the full semantic_dedup on the distinct frame, then
    two joins — rep_out is unique-content-sized (AQE broadcasts it when
    small) and the mv-join reuses the groupBy's partitioning.
    """
    if tau_sq_num > tau_sq_den:
        raise ValueError(
            "semantic_dedup_collapsed requires tau <= 1 "
            f"(tau_sq_num={tau_sq_num} > tau_sq_den={tau_sq_den}): with "
            "tau > 1 even exact copies are not duplicates and the "
            "replica shortcut does not hold"
        )
    from jobhouse_spark.functions.vectors import micro_vec  # noqa: PLC0415
    from jobhouse_spark.materialize import materialize_barrier  # noqa: PLC0415

    base = corpus.select(
        F.col(id_col).alias("vec_id"), micro_vec(F.col(vec_col)).alias("mv")
    )
    # one quantization pass, shared by the group-agg and the replica join
    base = materialize_barrier(base)
    groups = base.groupBy("mv").agg(F.min("vec_id").alias("rep_id"))
    reps = groups.select(F.col("rep_id").alias("vec_id"), "mv")
    rep_out = semantic_dedup(
        reps,
        centroids,
        tau_sq_num,
        tau_sq_den,
        id_col="vec_id",
        vec_col="mv",
        pre_quantized=True,
    )
    joined = base.alias("b").join(
        groups.alias("g"), F.col("b.mv").eqNullSafe(F.col("g.mv"))
    )
    return joined.join(
        rep_out.select(
            F.col("vec_id").alias("rep_id"),
            "cell",
            F.col("is_duplicate").alias("rep_dup"),
        ),
        "rep_id",
    ).select(
        F.col("b.vec_id").alias("vec_id"),
        "cell",
        F.when(F.col("b.vec_id") == F.col("rep_id"), F.col("rep_dup"))
        .otherwise(
            F.coalesce(
                F.exists(F.col("b.mv"), lambda x: x != F.lit(0)), F.lit(False)
            )
        )
        .alias("is_duplicate"),
    )


def kmeans_refine(
    corpus: DataFrame,
    centroids: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One EXACT-INTEGER Lloyd refinement step — the hash-checked twin
    of codebook training (train_centroids above is the production
    pyspark.ml KMeans; that fit is model-specific and rows-only by
    SURVEY §2.C rule 6, while this step is differentially checkable).

    assign(C0) → update (per-cell per-component integer mean,
    ``sum div count`` — truncating division, verified identical in
    Spark and DuckDB including negatives) → re-assign(C1). Returns
    per-NEW-cell stats, every column exact int64:

      cell        original id of the refined centroid
      n_members   members after re-assignment
      moved_in    members whose cell changed in this step
      member_chk  sum of member ids (membership checksum)
      cent_chk    sum of the refined centroid's components

    Exactness: micro-unit inputs are |x| <= ~1.2e6, so refined means
    are too; c² and v·c terms at dim 64 stay far below 2^53, keeping
    the large-codebook numpy path bit-identical to the expression path
    (same argument as semantic_dedup's assignment note). Cells that
    lose every member in step 1 have no refined centroid and cannot
    attract members in step 2 — both engines drop them identically.

    Scale shape: two map-only assignment passes over the corpus, one
    (cell, component) partial+final aggregate (k·dim rows), and a
    driver collect that is THE MODEL (k·dim integers — the same
    bounded-by-the-codebook contract as the k-from-N count in l23b);
    the refined codebook then rides to executors as assignment
    expressions / a numpy closure exactly like C0. No all-pairs, no
    per-cell global sort.
    """
    from jobhouse_spark.functions.vectors import micro_vec  # noqa: PLC0415
    from jobhouse_spark.materialize import materialize_barrier  # noqa: PLC0415

    spark = corpus.sparkSession
    dim = len(centroids[0]) if centroids else 0

    def assign(mv_col, cents):
        if len(cents) * dim <= _EXPR_COMPONENT_LIMIT:
            return _nearest_centroid_expr(mv_col, cents, k=1, integer_micro=True)[0]
        return _nearest_centroid_udf(mv_col, cents, k=1)[0]

    mv = micro_vec(F.col(vec_col))
    assigned = materialize_barrier(
        corpus.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("vec_id"),
            mv.alias("mv"),
            assign(mv, centroids).alias("cell0"),
        )
    )

    # update: per-(cell, component) integer mean — k·dim rows
    comps = (
        assigned.select("cell0", F.posexplode("mv").alias("pos", "v"))
        .groupBy("cell0", "pos")
        .agg(F.expr("sum(v) div count(1)").alias("comp"))
        .collect()
    )
    by_cell: dict[int, list[int]] = {}
    for r in comps:
        by_cell.setdefault(int(r["cell0"]), [0] * dim)[int(r["pos"])] = int(
            r["comp"]
        )
    ids = sorted(by_cell)
    cents1 = [by_cell[i] for i in ids]
    id_arr = F.array(*[F.lit(i) for i in ids])

    re_assigned = assigned.select(
        "vec_id",
        "cell0",
        F.element_at(id_arr, assign(F.col("mv"), cents1) + 1).alias("cell"),
    )
    chk = spark.createDataFrame(
        [(i, sum(by_cell[i])) for i in ids], "cell int, cent_chk bigint"
    )
    return (
        re_assigned.groupBy("cell")
        .agg(
            F.count("*").alias("n_members"),
            F.sum((F.col("cell0") != F.col("cell")).cast("long")).alias(
                "moved_in"
            ),
            F.sum("vec_id").alias("member_chk"),
        )
        .join(F.broadcast(chk), "cell")
        .select("cell", "n_members", "moved_in", "member_chk", "cent_chk")
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ): the ANN memory path
# ---------------------------------------------------------------------------
#
# Reference parity: the reference engine has no vector search at all;
# this family is part of the training-data-pipeline mandate (SURVEY
# §2.D). Method is public: Jégou, Douze, Schmid, "Product Quantization
# for Nearest Neighbor Search" (TPAMI 2011) — split the vector into M
# subspaces, quantize each against its own small codebook, search with
# asymmetric distance computation (ADC): the query stays full
# precision, every corpus vector is represented by M small code ids.
# At 100 TB the point is MEMORY: a 64-dim float32 vector is 256 bytes;
# its 8x16 PQ code is 8 bytes — a 10^9-vector index that would need
# 256 GB of vector payload in the scoring join carries 8 GB of codes.


def pq_fixed_codebooks(
    seed: int, n_sub: int, n_codes: int, sub_dim: int, component_range: int = 400_000
) -> list[list[list[int]]]:
    """Deterministic integer micro-unit sub-codebooks (n_sub codebooks
    of n_codes x sub_dim each) for the oracle-checkable PQ path — the
    ivf_fixed_centroids discipline: data-independent seeded constants a
    differential oracle interpolates verbatim. Production codebooks
    come from per-subspace k-means (the l26 kmeans_refine Lloyd step is
    the hash-checked training machinery; codebooks are plain
    parameters, so trained ones drop into the same operators — see
    tests/test_pq.py, which trains with numpy Lloyd and re-runs the
    identical encode/search path)."""
    from jobhouse_spark.functions.hashing import seeded_int_matrix  # noqa: PLC0415

    flat = seeded_int_matrix(seed, n_sub * n_codes, sub_dim, component_range)
    return [flat[m * n_codes : (m + 1) * n_codes] for m in range(n_sub)]


def _pq_components(codebooks: list[list[list[int]]]) -> int:
    return sum(len(cb) * (len(cb[0]) if cb else 0) for cb in codebooks)


def _guard_dim(vec_col, dim_total: int, expr, op: str):
    """Fail LOUDLY on a wrong-dimension vector instead of yielding NULL
    codes that downstream posexplode would silently drop (an opaque
    hash mismatch vs the oracle). Shared by pq_encode and ivf_pq_top_k
    so both entry points treat malformed vectors identically."""
    return F.when(F.size(vec_col) == dim_total, expr).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{op}: expected {dim_total}-dim vector, got size="),
                F.size(vec_col).cast("string"),
            )
        )
    )


def _pq_codes_expr(mv_col, codebooks: list[list[list[int]]]):
    """array<int> Column: per-subspace nearest-code index by exact
    integer squared L2 over the micro-unit sub-vector (ties break on
    code index — same argmin contract as _nearest_centroid_expr).
    Map-only JVM expressions; plan size O(n_sub x n_codes x sub_dim),
    which for PQ is small BY CONSTRUCTION (that's the method: many tiny
    codebooks instead of one combinatorially large one — 8x16x8 = 1024
    literal components covers 16^8 = 4.3e9 distinct reconstructions)."""
    codes = []
    for m, cb in enumerate(codebooks):
        sub_dim = len(cb[0])
        sub = F.slice(mv_col, m * sub_dim + 1, sub_dim)
        dists = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        sub,
                        F.array(*[F.lit(int(x)) for x in c]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                )
                for c in cb
            ]
        )
        idx = F.sequence(F.lit(0), F.lit(len(cb) - 1))
        pairs = F.zip_with(
            dists, idx, lambda d, i: F.struct(d.alias("d"), i.alias("i"))
        )
        codes.append(F.slice(F.array_sort(pairs), 1, 1).getField("i")[0])
    return F.array(*codes)


def pq_reconstruct(codes_col, codebooks: list[list[list[int]]]):
    """array<long> Column: micro-unit reconstruction — concatenation of
    each subspace's selected codeword. Pure literal-array lookup
    (element_at by code), map-side, no join against a codebook table."""
    lit_all = F.array(
        *[
            F.array(*[F.array(*[F.lit(int(x)) for x in c]) for c in cb])
            for cb in codebooks
        ]
    )
    return F.flatten(
        F.transform(
            codes_col,
            lambda c, m: F.element_at(F.element_at(lit_all, m + 1), c + 1),
        )
    )


def _encode_vectorized(mv_col, centroids, codebooks, dim_total: int):
    """Arrow-batched exact-integer IVF-PQ encoder: numpy matmuls over
    the ALREADY-QUANTIZED micro vectors (the JVM's micro_vec output, so
    there is no second quantization that could disagree with the
    expression path). Bit-exact equivalence argument: micro components
    are |x| <= ~1.2e6, so every product (<= 1.5e12), squared norm and
    distance key (<= ~1.8e14) is an integer below 2^53 — float64
    represents each EXACTLY, argmin ties break on the lowest index in
    both paths (np.argmin first-minimum == the (dist, idx) array_sort).
    Pinned by tests/test_pq.py::test_vectorized_encode_equals_expr.

    Why it exists: the HOF expression path evaluates ~2.3 us per
    zip_with/aggregate (vectors.py dot_micro cost note) x n_cells +
    n_sub*n_codes per ROW — ~0.2 ms/row at 48 cells, hours at 10M
    rows. One matmul per Arrow batch amortizes that to microseconds
    per row, and the centroid matrix rides in the closure, so plan
    size is constant (no _EXPR_COMPONENT_LIMIT — large cell counts
    become possible, which the 10M rung needs)."""
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    cents = np.asarray(centroids, dtype=np.float64)  # (C, D) exact
    c_sq = (cents * cents).sum(axis=1)  # exact ints in f8
    subs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    sub_sq = [(s * s).sum(axis=1) for s in subs]
    sub_dims = [s.shape[1] for s in subs]

    @pandas_udf("cell int, codes array<int>")
    def enc(mv: pd.Series) -> pd.DataFrame:
        cell_out = np.empty(len(mv), dtype=object)
        codes_out = np.empty(len(mv), dtype=object)
        mask = mv.notna().to_numpy()
        if mask.any():
            rows = mv[mask].to_numpy()
            bad = [len(r) for r in rows if len(r) != dim_total]
            if bad:
                raise ValueError(
                    f"pq encode: expected {dim_total}-dim vector, got "
                    f"size={bad[0]}"
                )
            mat = np.stack(rows).astype(np.float64)  # int64 -> f8 exact
            # ||v - c||^2 ordering == (||c||^2 - 2 v.c) ordering: the
            # difference is the per-row constant ||v||^2, and every
            # quantity is an exact integer in f8
            cell = np.argmin(c_sq - 2.0 * (mat @ cents.T), axis=1)
            code_cols = []
            off = 0
            for s, ssq, sd in zip(subs, sub_sq, sub_dims):
                sub = mat[:, off:off + sd]
                code_cols.append(np.argmin(ssq - 2.0 * (sub @ s.T), axis=1))
                off += sd
            codes = np.stack(code_cols, axis=1).astype("int32")
            for pos, c, row in zip(np.flatnonzero(mask), cell, codes):
                cell_out[pos] = int(c)
                codes_out[pos] = row
        return pd.DataFrame({"cell": pd.Series(cell_out),
                             "codes": pd.Series(codes_out)})

    return enc(mv_col)


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes array<int>): exact-integer PQ encoding. One
    map-only pass; the output is the persistent ANN index payload
    (n_sub small ints per vector — at 100 TB this is what you STORE)."""
    dim_total = sum(len(cb[0]) for cb in codebooks)
    if _pq_components(codebooks) > _EXPR_COMPONENT_LIMIT:
        raise ValueError(
            f"{_pq_components(codebooks)} codebook components exceed the "
            f"{_EXPR_COMPONENT_LIMIT}-component plan-size limit — PQ codebooks "
            "are small by construction; split dims across more subspaces"
        )
    from jobhouse_spark.functions.vectors import micro_vec  # noqa: PLC0415

    mv = micro_vec(F.col(vec_col))
    return corpus.select(
        F.col(id_col).alias("vec_id"),
        _guard_dim(F.col(vec_col), dim_total, _pq_codes_expr(mv, codebooks), "pq_encode").alias("codes"),
    )


def pq_build_index(
    corpus: DataFrame,
    centroids: list[list[int]],
    codebooks: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "auto",
) -> DataFrame:
    """(vec_id, cell, codes): the PERSISTED IVF-PQ index payload — one
    map-only corpus pass emitting a coarse-cell id + n_sub code bytes
    per vector. At 100 TB this DataFrame is what you WRITE (partitioned
    by cell); every query batch then reads codes, never raw vectors —
    the round-9 30x curve measured the inline featurization dominating
    every end-to-end wall (30-110 s per batch), which is exactly why
    the index is built once and stored (stored-path marginal walls:
    SCALE.md round 9).

    ``strategy``: 'expr' = literal-array HOF expressions (pure JVM
    plan — what the registry's hash-checked entries and the plan-shape
    audit pin; grows O(components)); 'vectorized' = Arrow-batched
    exact-integer numpy encode (_encode_vectorized — bit-identical
    output, constant plan size, ~100x the per-row throughput; the
    right choice for bulk index builds, opted into explicitly e.g. by
    the 10M-vector build in SCALE.md, "IVF-PQ stored index at 10M
    vectors"); 'auto' = expr while the components fit the
    codegen limit, vectorized beyond it (where expr would refuse).
    Both paths quantize via the JVM micro_vec, so the stored index is
    byte-identical either way (pinned by
    tests/test_pq.py::test_vectorized_encode_equals_expr).
    """
    from jobhouse_spark.functions.vectors import micro_vec  # noqa: PLC0415

    mv = micro_vec(F.col(vec_col))
    dim_total = sum(len(cb[0]) for cb in codebooks)
    if strategy == "auto":
        n_comp = _pq_components(codebooks) + len(centroids) * (
            len(centroids[0]) if centroids else 0
        )
        strategy = "expr" if n_comp <= _EXPR_COMPONENT_LIMIT else "vectorized"
    if strategy == "vectorized":
        enc = _encode_vectorized(mv, centroids, codebooks, dim_total)
        return corpus.select(
            F.col(id_col).alias("vec_id"), enc.alias("_e")
        ).select("vec_id", F.col("_e.cell").alias("cell"),
                 F.col("_e.codes").alias("codes"))
    n_components = _pq_components(codebooks) + len(centroids) * (
        len(centroids[0]) if centroids else 0
    )
    if n_components > _EXPR_COMPONENT_LIMIT:
        raise ValueError(
            f"{n_components} centroid+codebook components exceed the "
            f"{_EXPR_COMPONENT_LIMIT}-component plan-size limit"
        )
    return corpus.select(
        F.col(id_col).alias("vec_id"),
        _nearest_centroid_expr(mv, centroids, k=1, integer_micro=True)[0].alias(
            "cell"
        ),
        _guard_dim(
            F.col(vec_col), dim_total, _pq_codes_expr(mv, codebooks), "pq_build_index"
        ).alias("codes"),
    )


def ivf_pq_search(
    queries: DataFrame,
    index: DataFrame,
    centroids: list[list[int]],
    codebooks: list[list[list[int]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus: DataFrame | None = None,
    rerank_k: int | None = None,
) -> DataFrame:
    """Search a PRE-BUILT IVF-PQ index (pq_build_index's (vec_id, cell,
    codes) schema — typically read back from storage). This is the
    per-query-batch marginal cost: broadcast probes, cell-pruned join
    whose build input is ~n_sub bytes/vector, ADC scoring via
    literal-codebook reconstruction, one top-k window per query.

    ``rerank_k`` (requires ``corpus``) is the FAISS IVF-PQ+refine
    pattern: top rerank_k by ADC, TRUE vectors point-fetched for the
    shortlist only (broadcast shortlist joined against a map-only
    corpus scan — at 100 TB, a point-fetch from the vector store, NOT
    a corpus scan carrying vectors into a shuffle), exact integer-dot
    re-rank.

    OPERATING POINT (measured at 10M vectors / 96 cells / 48 queries
    per region — SCALE.md round-13 knee section, IVFPQ_10M.json):
    recall@10 is 0.77 at n_probe=1, 0.95 at 2 (the knee), 0.99 at 4;
    the default n_probe=4 sits just past the knee — recall-first.
    Latency-first callers use n_probe=2. ALWAYS pass corpus+rerank_k
    for quality search: ADC-only recall at this bit budget (8 bytes /
    64 dims) is ~0.38 at ~45% of the refined wall — the refine stage
    is the whole game. Retrain guidance from the same rung: the
    cell-skew trigger warrants retrain for ROUTING health (below-knee
    recall and probe balance); only the MSE trigger signals codebook
    resolution decay."""
    from jobhouse_spark.functions.vectors import dot_micro, micro_vec  # noqa: PLC0415

    if rerank_k is not None and corpus is None:
        raise ValueError("rerank_k requires corpus for the true-vector fetch")
    mv = micro_vec(F.col(vec_col))
    index = index.select(
        F.col("vec_id").alias("neighbor_id"), "cell", "codes"
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        mv.alias("q_vec"),
        F.explode(
            _nearest_centroid_expr(mv, centroids, k=n_probe, integer_micro=True)
        ).alias("cell"),
    )
    pairs = index.join(F.broadcast(probes), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.withColumn(
        "score", dot_micro(F.col("q_vec"), pq_reconstruct(F.col("codes"), codebooks))
    )
    if rerank_k is not None:
        w_adc = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("neighbor_id").asc()
        )
        shortlist = (
            scored.withColumn("sn", F.row_number().over(w_adc))
            .filter(F.col("sn") <= rerank_k)
            .select("query_id", "q_vec", "neighbor_id")
        )
        # true vectors for the shortlist only: broadcast the shortlist
        # so the vector fetch stays a map-side scan (a point-lookup
        # against the vector store in a real deployment)
        vecs = corpus.select(
            F.col(id_col).alias("neighbor_id"), mv.alias("c_vec")
        )
        scored = vecs.join(F.broadcast(shortlist), "neighbor_id").withColumn(
            "score", dot_micro(F.col("q_vec"), F.col("c_vec"))
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "score", "rn")
    )


def ivf_pq_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[int]],
    codebooks: list[list[list[int]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank_k: int | None = None,
) -> DataFrame:
    """IVF-PQ top-k over a raw vector corpus: pq_build_index +
    ivf_pq_search composed in one plan (the self-contained form the
    l27b/l27c differential oracles pin — every step exact integer
    arithmetic, bit-reproducible by any SQL engine). Production splits
    the two: build once, WRITE the (vec_id, cell, codes) index, and
    serve query batches with ivf_pq_search over the stored codes — the
    inline corpus featurization dominated every wall in the round-9 30x
    curve (SCALE.md), and it's the part storage amortizes away
    (equivalence of the split path is pinned by
    tests/test_pq.py::test_stored_index_search_matches_inline)."""
    return ivf_pq_search(
        queries,
        pq_build_index(corpus, centroids, codebooks, id_col, vec_col),
        centroids,
        codebooks,
        k=k,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
        corpus=corpus,
        rerank_k=rerank_k,
    )


def pq_write_index(index: DataFrame, root: str, mode: str = "overwrite") -> None:
    """Persist a pq_build_index payload partitioned BY CELL — the
    at-rest layout a 100 TB index wants: every cell is its own
    directory, so maintenance (append, per-cell rewrite, cell-targeted
    compaction) touches single partitions, and a future cell-pruned
    serving path can skip directories outright. One canonical writer so
    the initial build and every append share the same layout (mixing
    partitioned and unpartitioned files under one root is unreadable)."""
    index.write.mode(mode).partitionBy("cell").parquet(root)


def pq_index_append(
    new_batch: DataFrame,
    root: str,
    centroids: list[list[int]],
    codebooks: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    guard_duplicates: bool = False,
    strategy: str = "auto",
) -> None:
    """Incrementally maintain a stored IVF-PQ index (the l2e pattern
    applied to the ANN index): featurize ONLY the new batch against the
    FROZEN centroids + codebooks and append it partition-wise under the
    existing root. Nothing already encoded is read or rewritten — the
    marginal cost is one map-only pass over the batch, so a daily
    ingest into a 10^9-vector index costs the day's encode, not a
    rebuild.

    Contract: batch vec_ids are new (dedupe upstream — the engine's A15
    anti-join or L1 exact-dedup); updates/deletes go through a per-cell
    rewrite (the partition layout makes that a targeted overwrite).
    Codebooks must be the ones the index was built with — appending
    against retrained codebooks corrupts ADC scores. Retraining
    guidance (when drift warrants a rebuild) is documented in SCALE.md;
    append-equals-rebuild equivalence is pinned by
    tests/test_pq.py::test_index_append_equals_rebuild.

    ``guard_duplicates=True`` enforces the new-ids contract at append
    time instead of trusting it: the featurized batch is anti-joined
    against the vec_ids already stored in the TOUCHED cells only — a
    partition-pruned read (cell is the partition column), so the guard
    costs one narrow scan of the affected directories, not the index.
    Use it when replaying a batch after a partially-failed append (a
    crashed append may have committed some cells' files but not
    others; parquet appends are not atomic across partitions). The
    alternative recovery is a per-cell rewrite: read the touched
    cell directories, drop duplicate vec_ids, overwrite just those
    partitions."""
    payload = pq_build_index(new_batch, centroids, codebooks, id_col, vec_col,
                             strategy=strategy)
    cached = None
    if guard_duplicates:
        spark = payload.sparkSession
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(root)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            cached = payload.persist()  # featurize once, not per action
            touched = [r["cell"] for r in cached.select("cell").distinct().collect()]
            existing = (
                spark.read.parquet(root)
                .where(F.col("cell").isin(touched))  # partition-pruned
                .select("vec_id")
            )
            payload = cached.join(existing, "vec_id", "left_anti")
    try:
        pq_write_index(payload, root, mode="append")
    finally:
        if cached is not None:
            # the write is eager, so the guard cache is dead here;
            # without this every guarded append leaked one cached
            # relation per batch (round-12 verdict persist-sweep)
            cached.unpersist()
