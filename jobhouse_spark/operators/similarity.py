"""Similarity search + near-duplicate detection (SURVEY §2.B L2/L3).

Three tiers, chosen by scale:

1. ``brute_force_top_k`` — exact. Broadcast the (small) query set; the
   candidate side streams through executors with NO shuffle, each
   partition emits its local candidates, one final top-k. Right answer
   for "k-NN of a handful of probes against a 100 TB corpus".
2. ``lsh_top_k`` — approximate. BucketedRandomProjection LSH: one
   shuffle on bucket id, candidates only join within buckets. Right
   answer for all-pairs-ish workloads where brute force is quadratic.
3. ``minhash_near_duplicates`` — Jaccard near-dup over token shingles
   (MinHash + banded LSH via pyspark.ml), the standard web-scale text
   dedup pipeline shape (shingle → minhash → band → bucket join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jobhouse_spark.functions.vectors import (
    dot_micro,
    dot_product,
    l2_norm,
    micro_vec,
)


def _parse_byte_size(s: str) -> int:
    """Spark size-conf string -> bytes ('10MB', '10485760b', '-1', ...).
    Public-API replacement for sessionState().conf() reads."""
    v = str(s).strip().lower()
    for suffix, mult in (
        ("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20), ("kb", 1 << 10),
        ("t", 1 << 40), ("g", 1 << 30), ("m", 1 << 20), ("k", 1 << 10),
        ("b", 1),
    ):
        if v.endswith(suffix):
            return int(float(v[: -len(suffix)]) * mult)
    return int(float(v))


def _should_broadcast_probes(
    queries: DataFrame, vec_col: str, num_hash_tables: int
) -> bool:
    """Public-API auto-broadcast gate for the LSH probe side (no
    _jdf/Catalyst internals — those move across Spark upgrades).

    One head() for the vector width, then a BOUNDED count:
    ``limit(max_rows + 1).count()`` scans at most max_rows+1 probe rows,
    so the gate stays cheap exactly when the probe side is huge — the
    case an unbounded count() would hurt. Size model: rows x hash
    tables x (8 B per component + row overhead). A session threshold
    <= 0 (``autoBroadcastJoinThreshold = -1`` disables broadcasting)
    means "never broadcast", not "broadcast empty inputs"."""
    threshold = _parse_byte_size(
        queries.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    )
    if threshold <= 0:
        return False
    # width from the first NON-NULL vector: a null first row would read
    # as dim=0 and under-size a huge probe side into an approved
    # broadcast (the OOM this gate exists to prevent). All-null probes
    # hash to zero bucket rows, so broadcasting them is trivially safe.
    first = queries.select(vec_col).na.drop().head()
    dim = len(first[0]) if first else 0
    per_row = num_hash_tables * (dim * 8 + 48)
    max_rows = threshold // max(per_row, 1)
    return queries.limit(max_rows + 1).count() <= max_rows


def brute_force_top_k(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_decimal: bool = False,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Returns (query_id, neighbor_id, score, rn). Ties broken by
    neighbor_id. ``exact_decimal=True`` ranks on the exact integer
    micro-unit dot product (score in 1e-12 units — oracle-checkable,
    and ~10x cheaper than BigDecimal folds; divide by 1e12 for the
    decimal-scale value, exact in double since |dot| < 2^53); default
    ranks on double cosine (fast path).
    """
    vec = micro_vec(F.col(vec_col)) if exact_decimal else F.col(vec_col)
    q = queries.select(F.col(id_col).alias("query_id"), vec.alias("q_vec"))
    c = candidates.select(F.col(id_col).alias("neighbor_id"), vec.alias("c_vec"))
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("query_id") != F.col("neighbor_id"))
    if exact_decimal:
        score = dot_micro(F.col("q_vec"), F.col("c_vec"))
    else:
        score = dot_product(F.col("q_vec"), F.col("c_vec")) / (
            l2_norm(F.col("q_vec")) * l2_norm(F.col("c_vec"))
        )
    scored = pairs.withColumn("score", score)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "score", "rn")
    )


def lsh_projection_vectors(
    seed: int, num_tables: int, dim: int, component_range: int = 1000
) -> list[list[int]]:
    """Deterministic integer projection vectors for the oracle-checkable
    BRP path of ``lsh_top_k`` — exposed so a differential oracle can
    interpolate the SAME constants into its SQL (the l2c/
    minhash_coefficients pattern)."""
    from jobhouse_spark.functions.hashing import seeded_int_matrix  # noqa: PLC0415

    return seeded_int_matrix(seed, num_tables, dim, component_range)


def _floor_div(d, w: int):
    """Exact floor division of a BIGINT column by a positive int, as
    (d - pmod(d, w)) / w — the numerator is exactly divisible, stays
    under 2^53, and the identical formula is expressible in any SQL
    engine (plain '/' or '%' semantics on negatives differ per engine;
    pmod-based floor-div does not)."""
    return ((d - F.pmod(d, F.lit(w))) / F.lit(w)).cast("long")


def lsh_top_k(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    seed: int = 42,
    radius: float | None = None,
    broadcast_queries: bool | str = "auto",
    projections: list[list[int]] | None = None,
    bucket_width: int = 1 << 30,
) -> DataFrame:
    """Approximate top-k via BucketedRandomProjection LSH (pyspark.ml).

    Scale path for L3: hash both sides into buckets (pyspark.ml BRP
    hash functions), then an explicit equi-join on (hash_table, bucket)
    so only colliding buckets are explored. The candidate set is
    bounded **per bucket**: within each (query, table, bucket) only the
    k nearest survive before the global merge, so a skewed/dense bucket
    contributes at most k rows per query instead of its full population
    — the unbounded-candidate failure mode of
    ``approxSimilarityJoin(…, inf)`` at 100 TB. ``radius`` optionally
    also discards candidates beyond a Euclidean distance.
    Euclidean-distance based (BRP) — callers re-rank by exact cosine if
    needed.

    ``broadcast_queries``: True forces the probe side broadcast (bucket
    join never shuffles the candidate corpus — right for few probes);
    False forces a shuffled equi-join on (table, bucket) — right when
    the probe set itself is large (an unconditional broadcast there
    OOMs every executor); "auto" (default) picks via the public
    bounded-count size gate (_should_broadcast_probes) against the
    session's autoBroadcastJoinThreshold.

    ``projections``: a list of INTEGER projection vectors (one per hash
    table — see lsh_projection_vectors) switches bucketing to the
    oracle-checkable exact-integer path: both sides quantize to int64
    micro-units, the table hash is the exact integer dot with the
    projection vector, and ``bucket = floor(dot / bucket_width)`` via
    pmod-based floor division — every step bit-reproducible by any SQL
    engine (see l3b2_lsh_checked). ``dist`` is then the exact integer
    SQUARED micro-unit L2 distance (same ordering as Euclidean;
    ``radius``, if given, applies in those units). Candidate generation,
    per-bucket capping, multi-table dedup, and ranking are the SAME code
    as the pyspark.ml path — the checked entry exercises the production
    pipeline, only the hash family is swapped (the l2c md5/xxhash64
    pattern).
    """
    if broadcast_queries == "auto":
        # gate on the PROBE side only (the side whose smallness is in
        # question — never the corpus); the native path's table count is
        # len(projections), not the num_hash_tables default
        n_tables = len(projections) if projections is not None else num_hash_tables
        broadcast_queries = _should_broadcast_probes(queries, vec_col, n_tables)

    if projections is not None:
        q = queries.select(
            F.col(id_col).alias("query_id"), micro_vec(F.col(vec_col)).alias("q_arr")
        )
        c = candidates.select(
            F.col(id_col).alias("neighbor_id"), micro_vec(F.col(vec_col)).alias("c_arr")
        )

        def buckets(df: DataFrame, keep: str, arr: str) -> DataFrame:
            dots = F.array(
                *[
                    F.aggregate(
                        F.zip_with(
                            F.col(arr),
                            F.array(*[F.lit(int(p)) for p in pv]),
                            lambda x, y: x * y,
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, v: acc + v,
                    )
                    for pv in projections
                ]
            )
            hashed = df.select(keep, arr, F.posexplode(dots).alias("table_idx", "d"))
            return hashed.withColumn("bucket", _floor_div(F.col("d"), bucket_width)).drop("d")

        dist = F.aggregate(
            F.zip_with("q_arr", "c_arr", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
    else:
        from pyspark.ml.feature import BucketedRandomProjectionLSH  # noqa: PLC0415
        from pyspark.ml.functions import array_to_vector, vector_to_array  # noqa: PLC0415

        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("q_arr"),
        ).withColumn("features", array_to_vector("q_arr"))
        c = candidates.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("c_arr"),
        ).withColumn("features", array_to_vector("c_arr"))
        brp = BucketedRandomProjectionLSH(
            inputCol="features",
            outputCol="hashes",
            bucketLength=bucket_length,
            numHashTables=num_hash_tables,
            seed=seed,
        )
        model = brp.fit(c)

        def buckets(df: DataFrame, keep: str, arr: str) -> DataFrame:
            hashed = model.transform(df).select(
                keep, arr, F.posexplode("hashes").alias("table_idx", "h")
            )
            return hashed.withColumn("bucket", vector_to_array("h")[0]).drop("h")

        dist = F.sqrt(
            F.aggregate(
                F.zip_with("q_arr", "c_arr", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )

    qb = buckets(q, "query_id", "q_arr")
    cb = buckets(c, "neighbor_id", "c_arr")
    probe = F.broadcast(qb) if broadcast_queries else qb
    joined = cb.join(probe, ["table_idx", "bucket"]).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = joined.withColumn("dist", dist)
    if radius is not None:
        scored = scored.filter(F.col("dist") <= radius)
    # per-bucket cap: at most k candidates leave any single bucket
    wb = Window.partitionBy("query_id", "table_idx", "bucket").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    pruned = scored.withColumn("bn", F.row_number().over(wb)).filter(F.col("bn") <= k)
    # a pair colliding in several hash tables appears once per table
    cand = pruned.groupBy("query_id", "neighbor_id").agg(F.min("dist").alias("dist"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "dist", "rn")
    )


# Same Mersenne-ish prime pyspark.ml's MinHashLSH uses for its
# universal hash family (public Spark source: ml/feature/MinHashLSH).
_MINHASH_PRIME = 2038074743


def minhash_coefficients(seed: int, n: int) -> list[tuple[int, int]]:
    """The (a, b) universal-hash coefficients for n minhash bands —
    exposed so a differential oracle can interpolate the SAME constants
    into its SQL."""
    import random  # noqa: PLC0415

    rng = random.Random(seed)
    return [
        (rng.randint(1, _MINHASH_PRIME - 1), rng.randint(0, _MINHASH_PRIME - 1))
        for _ in range(n)
    ]


def _minhash_featurize(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_features: int,
    feature_hash: str,
) -> DataFrame:
    """Stage 1 of the minhash pipeline: (doc, features) — tokenize →
    n-gram shingles → hashed binary feature set (set semantics). The
    expensive corpus scan; everything downstream works on the compact
    int-array features. Shared verbatim by the batch pipeline
    (minhash_near_duplicates) and the index/incremental API, so stored
    signatures and fresh ones can never diverge."""
    base = docs.select(id_col, text_col)
    # A small corpus read from one parquet file arrives as ONE partition
    # and the whole featurize chain runs in a single task; spread it.
    # Gated so a big (already well-partitioned) corpus is NOT given an
    # extra full shuffle.
    sc = docs.sparkSession.sparkContext
    if base.rdd.getNumPartitions() < sc.defaultParallelism:
        base = base.repartition(sc.defaultParallelism)

    # Row-filter short docs up front instead of a when()-guarded empty
    # shingle array: transform() over a CaseWhen child defeats codegen
    # and ran ~100x slower than transform() over a plain nested
    # expression (measured at sf0.1); the excluded rows are exactly the
    # empty-set docs the contract drops anyway.
    # trim before splitting: split on \s+ keeps a leading empty token for
    # whitespace-padded text, which would shift every shingle (" a b" vs
    # "a b") and stop padded duplicates from colliding
    toked = base.select(
        F.col(id_col).alias("doc"),
        F.split(
            F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
        ).alias("toks"),
    ).filter(F.size("toks") >= shingle_n)
    shingle_expr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - (shingle_n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(F.col("toks"), i + j) for j in range(shingle_n)]
            ),
        )
    )
    # binary feature set: hashed shingle indices, deduped (set semantics)
    if feature_hash == "md5":
        from jobhouse_spark.functions.hashing import md5_int32  # noqa: PLC0415

        def _feat(x):
            return F.pmod(md5_int32(x), F.lit(num_features))
    else:
        def _feat(x):
            return F.pmod(F.xxhash64(x), F.lit(num_features))
    feat_expr = F.array_distinct(F.transform(shingle_expr, _feat))
    return toked.select("doc", feat_expr.alias("features"))


def _band_signatures(featured: DataFrame, seed: int, num_hash_tables: int) -> DataFrame:
    """Stage 2: (doc, band_idx, sig) — one minhash function per band
    (r=1, matching MinHashLSH): sig_i = min over features of
    (a_i*f + b_i) mod p."""
    coeffs = minhash_coefficients(seed, num_hash_tables)

    def _perm(a: int, b: int):
        # closure factory: pyspark's higher-order-function binding counts
        # lambda params, so the coefficients can't ride as default args
        return lambda f: F.pmod(
            a * F.pmod(f, F.lit(_MINHASH_PRIME)) + b, F.lit(_MINHASH_PRIME)
        )

    sigs = F.array(
        *[F.array_min(F.transform("features", _perm(a, b))) for a, b in coeffs]
    )
    return featured.select("doc", F.posexplode(sigs).alias("band_idx", "sig"))


def _minhash_pairs(
    signatures: DataFrame,
    features: DataFrame,
    jaccard_threshold: float,
    max_bucket_size: int,
) -> DataFrame:
    """The one MinHash candidate-pair path, shared by
    minhash_near_duplicates and minhash_incremental_pairs:
    ``signatures`` (doc, band_idx, sig, is_new) → capped buckets →
    in-row pairs with at least one new side → exact Jaccard against
    ``features`` (doc, features) → ``materialize_barrier``. Returns
    (doc_a, doc_b, jaccard_dist), doc_a < doc_b."""
    from jobhouse_spark.materialize import materialize_barrier  # noqa: PLC0415

    # Per-bucket membership cap: a (band, signature) bucket admits at
    # most max_bucket_size docs (lowest ids — deterministic), bounding
    # its pair fan-out to C(cap, 2) instead of C(bucket, 2). The
    # spill-safe window stays in front of the collect below, so a
    # degenerate bucket still sorts/spills gracefully and the
    # collect_list buffer is bounded by the cap, never by the bucket.
    wb = Window.partitionBy("band_idx", "sig").orderBy(F.col("doc").asc())
    capped = (
        signatures.withColumn("__bn", F.row_number().over(wb))
        .filter(F.col("__bn") <= max_bucket_size)
    )
    # In-row pair generation (round 15): a self-join of
    # `capped` on (band_idx, sig) re-executes the whole window-cap
    # pipeline for BOTH join sides. Collecting each bucket's membership
    # once and expanding the C(members, 2) pairs with array transforms
    # yields the IDENTICAL pair set — members sorted ascending, x paired
    # with every later y > x, so doc_a < doc_b even when an id repeats —
    # from ONE pass, and the groupBy reuses the window's (band_idx, sig)
    # hash partitioning (no new exchange). A pair of two old docs was
    # found when the index was built; recomputing it is the waste the
    # incremental path exists to avoid, so it is dropped here.
    members = capped.groupBy("band_idx", "sig").agg(
        F.sort_array(F.collect_list(F.struct("doc", "is_new"))).alias("ms")
    )
    cand = (
        members.select(
            F.explode(
                F.expr(
                    "flatten(transform(ms, (x, i) -> "
                    "transform(filter(slice(ms, i + 2, size(ms)), "
                    "y -> y.doc > x.doc AND (x.is_new OR y.is_new)), "
                    "y -> struct(x.doc AS doc_a, y.doc AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # Exact Jaccard on surviving candidate pairs only — two equi-joins
    # pulling feature sets back onto the pair list. No broadcast hint on
    # purpose: the candidate side is bucket-cap-bounded per bucket but
    # NOT globally small (a duplicate-heavy corpus yields C(cap,2) pairs
    # per saturated bucket x bands; measured multi-GB at 10x
    # replication, where a forced broadcast OOMs a small driver). AQE
    # converts to broadcast at runtime when the pair set is actually tiny.
    fa = features.select(F.col("doc").alias("doc_a"), F.col("features").alias("fa"))
    fb = features.select(F.col("doc").alias("doc_b"), F.col("features").alias("fb"))
    # filter on similarity directly (inclusive boundary: sim >= threshold
    # keeps the pair) instead of a derived 1-x distance comparison whose
    # rounding can flip exact-boundary pairs
    sim = F.size(F.array_intersect("fa", "fb")) / F.size(F.array_union("fa", "fb"))
    # The barrier truncates lineage, so the callers' persisted feature
    # relations can be released on return; what it keeps is the OUTPUT
    # pair list.
    return materialize_barrier(
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn("__sim", sim)
        .filter(F.col("__sim") >= jaccard_threshold)
        .select("doc_a", "doc_b", (1.0 - F.col("__sim")).alias("jaccard_dist"))
    )


def minhash_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hash_tables: int = 5,
    num_features: int = 1 << 16,
    seed: int = 42,
    shingle_n: int = 3,
    feature_hash: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """Build the STORED LSH index for incremental dedup: returns
    (signatures(doc, band_idx, sig), features(doc, features)) — the two
    compact relations a production pipeline persists (parquet tables)
    so that future batches never re-featurize the indexed corpus. Both
    are lazy frames computed with exactly the code the batch pipeline
    uses; write them with the SAME parameters you will pass to
    minhash_incremental_pairs."""
    featured = _minhash_featurize(
        docs, id_col, text_col, shingle_n, num_features, feature_hash
    )
    return _band_signatures(featured, seed, num_hash_tables), featured


def minhash_incremental_pairs(
    new_docs: DataFrame,
    index_signatures: DataFrame,
    index_features: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.4,
    num_hash_tables: int = 5,
    num_features: int = 1 << 16,
    seed: int = 42,
    shingle_n: int = 3,
    max_bucket_size: int = 500,
    feature_hash: str = "xxhash64",
) -> DataFrame:
    """Incremental near-dup dedup: match a NEW batch against a stored
    LSH index (minhash_index) WITHOUT re-featurizing the indexed corpus
    — the shape a 100 TB pipeline actually runs: featurizing is the
    full-text scan; signatures and features are compact stored columns.

    Only the batch is tokenized/shingled/hashed; the index contributes
    its stored signatures to the (cheap) bucket-cap-and-join stage and
    its stored features to the exact rescore. EQUIVALENCE CONTRACT
    (tested, and hash-checked by l2e): with identical parameters, the
    result equals minhash_near_duplicates(index_docs UNION new_docs)
    restricted to pairs involving at least one new doc — including cap
    behavior, because the cap is applied over the UNIONED signature set
    (signatures are 5 ints/doc; unioning them is nothing compared to
    re-featurizing the corpus).

    Returns (doc_a, doc_b, jaccard_dist), doc_a < doc_b; new-vs-index
    and new-vs-new pairs both included. The index and batch signatures,
    tagged old/new, go through the same pair tail as
    minhash_near_duplicates (``_minhash_pairs``: one capped-bucket pass,
    in-row pairs with at least one new side), which ends in a
    materialize_barrier so the batch featurization runs once.
    """
    new_feat = _minhash_featurize(
        new_docs, id_col, text_col, shingle_n, num_features, feature_hash
    ).persist()
    new_sigs = _band_signatures(new_feat, seed, num_hash_tables)
    # Re-submitted ids (a re-crawl of an indexed doc): the BATCH version
    # wins — the indexed rows for those ids are dropped before the
    # union, otherwise the doc would carry two signature/feature rows
    # (double-counted in bucket caps, duplicated output pairs). The
    # equivalence contract then reads: equals the full recompute over
    # (index MINUS resubmitted ids) UNION batch.
    new_ids = new_feat.select("doc")
    index_signatures = index_signatures.join(new_ids, "doc", "left_anti")
    index_features = index_features.join(new_ids, "doc", "left_anti")
    all_sigs = index_signatures.select("doc", "band_idx", "sig").withColumn(
        "is_new", F.lit(False)
    ).unionByName(new_sigs.withColumn("is_new", F.lit(True)))
    all_feat = index_features.select("doc", "features").unionByName(new_feat)
    try:
        return _minhash_pairs(all_sigs, all_feat, jaccard_threshold, max_bucket_size)
    finally:
        new_feat.unpersist()


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.4,
    num_hash_tables: int = 5,
    num_features: int = 1 << 16,
    seed: int = 42,
    shingle_n: int = 3,
    max_bucket_size: int = 500,
    feature_hash: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs over word-shingle sets.

    Pipeline: tokenize → n-gram shingles → hash to a binary feature set
    (set semantics) → per-band minhash signature → **per-bucket
    membership cap** → in-row pair expansion of each capped band bucket
    → exact Jaccard on the surviving pairs. Returns (doc_a, doc_b, jaccard_dist),
    doc_a < doc_b. Entirely native DataFrame ops (whole-stage codegen);
    the minhash permutations are ``pmod(a*f + b, p)`` expressions over
    the feature array, the same universal hash family pyspark.ml's
    MinHashLSH draws from.

    100 TB design — why not ``approxSimilarityJoin``: its bucket join
    has no candidate bound, so one degenerate band bucket (near-empty
    docs, boilerplate-heavy corpora) yields O(b²) pairs in a single
    task. Here each (band, signature) bucket keeps at most
    ``max_bucket_size`` members (deterministic: lowest doc ids), so a
    bucket contributes ≤ C(cap, 2) pairs no matter how degenerate the
    corpus. Overflowing docs are usually exact/boilerplate duplicates —
    the L1 exact-dedup pass, run first in any real pipeline, is the
    right tool for those.

    Shingles, not single words: over a small vocabulary every document
    contains most words, so word-set MinHash collapses into a handful of
    buckets. The n-gram shingle space is |vocab|^n — documents separate,
    buckets spread, and the join stays bucket-local (the standard
    shingle→minhash→band pipeline for web-scale text dedup).

    Docs with an empty shingle set (< ``shingle_n`` tokens) are
    excluded: Jaccard is undefined on empty sets (pyspark.ml raises on
    them outright).

    ``feature_hash``: "xxhash64" (default — fastest JVM hash, not
    reproducible outside Spark) or "md5" (first 8 hex chars as an int;
    ~identical distribution, computable bit-for-bit by any engine with
    md5 — the knob a differential oracle uses to verify this exact
    pipeline end-to-end, see l2c_minhash_checked).

    Precondition: ``id_col`` is unique. A duplicated id duplicates the
    exact-Jaccard rejoin's rows for that id; pairs stay strict
    (doc_a < doc_b), so an id is never paired with itself.

    Eager: ``featured`` (consumed three times: signatures + both sides of
    the exact-Jaccard rejoin) is persisted, every signature is tagged new
    and handed to the pair tail minhash_incremental_pairs also runs
    (``_minhash_pairs``), which ends in a ``materialize_barrier`` over
    the small threshold-filtered pair list, and ``featured`` is released
    before returning. Leak-free in a long-lived session with no caller
    obligations; the fault-tolerance trade is the barrier's (see
    ``jobhouse_spark.materialize``).
    """
    # persist so the tokenize/shingle/hash chain runs one corpus scan,
    # not three. The cached relation is one int-array column — far
    # smaller than the text — and spills to disk if not.
    featured = _minhash_featurize(
        docs, id_col, text_col, shingle_n, num_features, feature_hash
    ).persist()
    # every doc is new: the shared pair tail keeps all pairs
    banded = _band_signatures(featured, seed, num_hash_tables).withColumn(
        "is_new", F.lit(True)
    )
    try:
        return _minhash_pairs(banded, featured, jaccard_threshold, max_bucket_size)
    finally:
        featured.unpersist()


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard near-dup pairs (the deterministic
    counterpart of MinHash, oracle-checkable).

    Scalable shape: explode shingles → self-join on shingle (inverted
    index!) → count common shingles per pair → Jaccard from set sizes.
    No cross product: pairs sharing zero shingles are never materialized.

    ``max_df`` caps the hot-shingle fan-out: the inverted-index
    self-join emits C(df, 2) pairs per shingle, so ONE boilerplate
    3-gram shared by 10^6 web documents would materialize ~5*10^11 join
    rows in a single key. With ``max_df=K``, shingles whose document
    frequency exceeds K are dropped from the index BEFORE the self-join
    (the CCNet / suffix-array-dedup stop-gram move; same pruning as the
    j14 fuzzy join's stop-grams), bounding per-shingle join input at
    C(K, 2). Semantics become Jaccard over the PRUNED shingle universe
    — set sizes are recomputed over surviving shingles so the ratio
    stays a true Jaccard of the capped sets (deterministic, oracle-
    mirrorable). Boilerplate shared by >K docs no longer contributes to
    similarity, which is the point: it carries no dedup signal. Default
    ``None`` preserves exact semantics for bounded inputs.
    """
    # coalesce makes the token array provably non-nullable: otherwise
    # Catalyst infers isnotnull(set_size) downstream and pushes the
    # whole shingle expression into the scan filter (per-row recompute).
    # Semantics unchanged: null text -> [''] -> below the n-token
    # minimum -> empty shingle set, exactly as the null path produced.
    toked = docs.select(
        F.col(id_col).alias("doc"),
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+").alias("toks"),
    )
    shingle_expr = F.when(
        F.size("toks") >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(F.col("toks"), i + j) for j in range(n)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    shingled = toked.select("doc", shingle_expr.alias("shingles")).withColumn(
        "set_size", F.size("shingles")
    )

    # explode_outer, not explode: InferFiltersFromGenerate would infer
    # size(shingles)>0 from a plain explode and push the whole shingle
    # expression into the scan filter, re-shingling the corpus per row
    # (seen as a 17x slowdown in the contamination query). Null rows
    # can't pair with themselves in the self-join (null != null), so
    # the pair set is unchanged.
    inv = shingled.select(
        "doc", "set_size", F.explode_outer("shingles").alias("shingle")
    )
    if max_df is not None:
        from jobhouse_spark.materialize import materialize_barrier  # noqa: PLC0415

        # The capped dataflow reads the inverted index from FOUR
        # consumers (df counts, the anti-join, the size recompute, and
        # both self-join branches); without a barrier Catalyst inlines
        # the tokenize+shingle+explode pipeline into every branch —
        # measured as 8 Generate chains / 0 reused exchanges, i.e.
        # tokenizing the corpus ~8x at 100 TB. Two barriers make the
        # expensive stages run ONCE each: shingling once, pruning once.
        inv = materialize_barrier(inv.drop("set_size"))
        # shingles are array_distinct'd per doc, so count(*) per shingle
        # IS document frequency. The hot set (df > K) has at most
        # total_postings / K entries — small for any real K, and AQE
        # broadcasts the anti-join side when it is; no forced broadcast
        # so a pathological hot set can still shuffle instead of OOM.
        hot = (
            inv.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle")
        )
        pruned = materialize_barrier(inv.join(hot, "shingle", "left_anti"))
        # set sizes recomputed over SURVIVING shingles (count(shingle)
        # per doc = pruned distinct-shingle count) so jaccard stays
        # exact over the capped universe; docs fully pruned vanish —
        # they cannot pair anyway (no surviving postings to join on).
        # count(shingle), not count(*): explode_outer's NULL-shingle
        # rows (empty-shingle docs) survive the left_anti prune (NULL
        # never equality-matches) and count(*) would give empty docs
        # set_size=1 instead of 0.
        sizes = pruned.groupBy("doc").agg(F.count("shingle").alias("set_size"))
        inv = pruned.join(sizes, "doc")
    a = inv.alias("a")
    b = inv.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.set_size").alias("size_a"),
            F.col("b.set_size").alias("size_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    jac = common.withColumn(
        "jaccard",
        F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
    )
    return jac.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "n_common", "jaccard"
    )
