"""Recall/tolerance tests for the approximate ops (SURVEY §2.C rule 6:
declared-but-not-hash-checked → planted-duplicate recall + error bounds).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jobhouse_spark.operators.similarity import (
    brute_force_top_k,
    lsh_top_k,
    minhash_near_duplicates,
)
from jobhouse_spark.tables import Tables


def test_minhash_recall_on_planted_duplicates(spark, sf_dir):
    """Plant 20 near-duplicates (one word changed) — MinHash must find
    ≥90% of them and no exact-self pairs, even when an id repeats (doc 5
    twice: its copies share every bucket, but pairs are strict)."""
    docs = Tables(spark, sf_dir).documents.filter(F.col("doc_id") < 100)
    clones = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    dup_id = docs.filter(F.col("doc_id") == 5).select("doc_id", "text")
    corpus = docs.select("doc_id", "text").unionByName(clones).unionByName(dup_id)
    pairs = minhash_near_duplicates(corpus, jaccard_threshold=0.7).collect()
    assert all(r.doc_a < r.doc_b for r in pairs), [
        r for r in pairs if r.doc_a >= r.doc_b
    ]
    found = {(r.doc_a, r.doc_b) for r in pairs}
    planted = {(i, i + 100000) for i in range(20)}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.9, f"recall {recall}: {sorted(found)[:10]}"


def test_minhash_degenerate_bucket_bounded(spark):
    """Adversarial: 1k boilerplate docs sharing one text land in ONE
    band bucket per band. Uncapped LSH would emit C(1000,2)=499,500
    pairs from a single bucket; the per-bucket membership cap bounds
    output to C(cap,2) — and the job must finish quickly."""
    rows = [(i, "lorem ipsum dolor sit amet the same boilerplate text") for i in range(1000)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    cap = 50
    pairs = minhash_near_duplicates(
        docs, jaccard_threshold=0.5, num_hash_tables=3, max_bucket_size=cap
    ).collect()
    # identical docs: every surviving pair matches, but the bucket cap
    # bounds candidates to C(cap,2) regardless of bucket population
    assert 0 < len(pairs) <= cap * (cap - 1) // 2, len(pairs)
    assert all(r.jaccard_dist == 0.0 for r in pairs)


def test_minhash_short_docs_excluded(spark):
    """Docs below the shingle length can't be featurized (empty set —
    Jaccard undefined); they must be silently excluded, not crash."""
    rows = [(1, "only two"), (2, "only two"), (3, None), (4, "a proper document with many words here"), (5, "a proper document with many words here")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.5, num_hash_tables=3).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    assert found == {(4, 5)}, found


def test_lsh_topk_recall_vs_brute_force(spark, sf_dir):
    """BRP-LSH candidates must include most of the exact top-10
    (Euclidean vs cosine mismatch allowed, so threshold is loose)."""
    emb = Tables(spark, sf_dir).embeddings
    probes = emb.filter(F.col("vec_id") < 3)
    exact = brute_force_top_k(probes, emb, k=10).collect()
    approx = lsh_top_k(probes, emb, k=50, num_hash_tables=5).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    # LSH with wide buckets on 64-dim gaussians: expect substantial overlap
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_lsh_topk_shuffled_fallback_matches_broadcast(spark, sf_dir):
    """A large probe set must run with the shuffled bucket join (no
    query-side broadcast) and produce identical candidates: the
    broadcast flag changes the physical join strategy only."""
    emb = Tables(spark, sf_dir).embeddings
    probes = emb.filter(F.col("vec_id") < 200)  # probe set ~ corpus-sized
    via_bcast = lsh_top_k(probes, emb, k=5, broadcast_queries=True).collect()
    via_shuffle = lsh_top_k(probes, emb, k=5, broadcast_queries=False).collect()
    assert via_bcast and {tuple(r) for r in via_bcast} == {tuple(r) for r in via_shuffle}


def test_lsh_topk_auto_broadcast_gate(spark, sf_dir):
    """auto must broadcast a tiny probe set and fall back for a probe set
    whose optimizer size estimate exceeds the broadcast threshold."""
    emb = Tables(spark, sf_dir).embeddings
    small = emb.filter(F.col("vec_id") < 3)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        out = lsh_top_k(small, emb, k=5).collect()  # auto -> shuffled path
        assert len(out) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    out_b = lsh_top_k(small, emb, k=5).collect()  # auto -> broadcast path
    assert {tuple(r) for r in out} == {tuple(r) for r in out_b}


def test_approx_count_distinct_tolerance(spark, sf_dir):
    o = Tables(spark, sf_dir).orders
    exact = o.select(F.countDistinct("o_custkey")).collect()[0][0]
    approx = o.select(F.approx_count_distinct("o_custkey", rsd=0.02)).collect()[0][0]
    assert abs(approx - exact) / exact < 0.05


def test_simhash_near_duplicates_close(spark, sf_dir):
    """A one-word edit must flip at most a few simhash bits; random doc
    pairs should differ in many."""
    from jobhouse_spark.functions.text import simhash16

    docs = Tables(spark, sf_dir).documents.filter(F.col("doc_id") < 30)
    fp = docs.select("doc_id", simhash16(F.col("text")).alias("h"))
    edited = docs.select(
        "doc_id",
        simhash16(F.concat(F.col("text"), F.lit(" zzz"))).alias("h2"),
    )
    joined = fp.join(edited, "doc_id").select(
        "doc_id", F.bit_count(F.col("h").bitwiseXOR(F.col("h2"))).alias("dist")
    )
    dists = [r.dist for r in joined.collect()]
    assert sum(d <= 4 for d in dists) / len(dists) >= 0.9, dists


def test_approx_percentile_tolerance(spark, sf_dir):
    from jobhouse_spark.tables import Tables

    o = Tables(spark, sf_dir).orders
    exact = o.selectExpr("percentile(o_totalprice, 0.5)").collect()[0][0]
    approx = o.selectExpr("percentile_approx(o_totalprice, 0.5, 1000)").collect()[0][0]
    assert abs(approx - exact) / exact < 0.02


def test_language_id_heuristic(spark):
    from jobhouse_spark.functions.text import detect_language
    from pyspark.sql import functions as F

    samples = [
        ("the cat sat on the mat and looked at this dog", "en"),
        ("der hund ist mit der katze und das haus nicht da", "de"),
        ("le chat est dans la maison avec les enfants pour jouer", "fr"),
        ("el perro y la casa es con los gatos para que salten", "es"),
        ("这 是 一个 中文 句子", "zh"),
        ("zzz qqq xxx", "unknown"),
    ]
    df = spark.createDataFrame(samples, "text string, expected string")
    out = df.select("expected", detect_language(F.col("text")).alias("got")).collect()
    for r in out:
        assert r.got == r.expected, (r.expected, r.got)


@pytest.mark.parametrize(
    "name",
    [
        "l2_minhash_neardup",
        "l2e_incremental_minhash",
        "jh8_employer_resolution",
        "jh9_repost_audit",
        "jh11_incremental_resolution",
        "jh12_indexed_incremental_resolution",
    ],
)
def test_minhash_releases_cache(spark, sf_dir, name):
    """One lifecycle, no leaks: a registry build that caches a relation
    it reuses releases it before returning, so repeated builds in a
    long-lived session leave the catalog cache empty — and give the same
    rows. getPersistentRDDs() is deliberately not checked:
    localCheckpointed RDDs stay listed there until the JVM and Python
    garbage collectors run, which is nondeterministic."""
    from jobhouse_spark.queries import all_queries

    q = all_queries()[name]
    spark.catalog.clearCache()  # isolate from other tests' cached relations
    jvm_catalog = spark._jsparkSession.sharedState().cacheManager()
    results = []
    for _ in range(2):
        results.append(sorted(map(repr, q.fn(spark, sf_dir).collect())))
        assert jvm_catalog.isEmpty(), f"{name} leaked a persisted relation"
    assert results[0] == results[1] and results[0], name


def test_incremental_minhash_equals_full_recompute(spark):
    """minhash_incremental_pairs(batch, stored index) must equal the
    full-recompute pipeline over (index ∪ batch) restricted to pairs
    involving a batch doc — on the production xxhash64 path, including
    planted near-dups across the index/batch boundary."""
    from jobhouse_spark.operators.similarity import (
        minhash_incremental_pairs,
        minhash_index,
    )

    body = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(i, f"document number {i} {body}") for i in range(40)]
    # batch: 35-39 fresh + near-dups of indexed docs 3 and 7
    rows += [
        (100, rows[3][1] + " extra"),
        (101, rows[7][1]),
        (102, "completely different content with no overlap whatsoever here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    index_docs = docs.filter(F.col("doc_id") < 40)
    batch = docs.filter(F.col("doc_id") >= 40)

    sigs, feats = minhash_index(index_docs, num_hash_tables=3)
    inc = minhash_incremental_pairs(
        batch, sigs, feats, jaccard_threshold=0.5, num_hash_tables=3
    )
    full = minhash_near_duplicates(
        docs, jaccard_threshold=0.5, num_hash_tables=3
    ).filter((F.col("doc_a") >= 40) | (F.col("doc_b") >= 40))

    got = sorted(map(tuple, inc.collect()))
    want = sorted(map(tuple, full.collect()))
    assert got == want and len(want) > 0, (got, want)
    # the cross-boundary planted dups were actually found
    found = {(a, b) for a, b, _ in got}
    assert (3, 100) in found and (7, 101) in found, found


def test_incremental_minhash_caps_buckets_once(spark, monkeypatch):
    """The bucket-cap window runs once: the plan handed to the barrier
    has exactly one Window node (a self-join of the capped buckets
    plans the window pipeline once per join side)."""
    import re

    import jobhouse_spark.materialize as materialize
    from jobhouse_spark.operators.similarity import (
        minhash_incremental_pairs,
        minhash_index,
    )

    captured = []
    monkeypatch.setattr(
        materialize, "materialize_barrier", lambda df: captured.append(df) or df
    )
    docs = spark.createDataFrame(
        [(i, f"document {i} the quick brown fox jumps") for i in range(6)],
        "doc_id int, text string",
    )
    sigs, feats = minhash_index(docs.filter("doc_id < 4"), num_hash_tables=3)
    minhash_incremental_pairs(
        docs.filter("doc_id >= 4"), sigs, feats, num_hash_tables=3
    )
    (pre_barrier,) = captured
    plan = pre_barrier._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert len(re.findall(r"^\(\d+\) Window$", plan, re.M)) == 1, plan


def test_incremental_minhash_resubmitted_id_batch_wins(spark):
    """A batch doc whose id already exists in the index (re-crawl) must
    not double-count: the batch version replaces the indexed one — no
    duplicate output pairs, and matching uses the NEW text."""
    from jobhouse_spark.operators.similarity import (
        minhash_incremental_pairs,
        minhash_index,
    )

    body = "the quick brown fox jumps over the lazy dog near the river bank today"
    docs = spark.createDataFrame(
        [(i, f"document number {i} {body}") for i in range(20)],
        "doc_id int, text string",
    )
    sigs, feats = minhash_index(docs, num_hash_tables=3)
    # re-submit doc 5 with text now near-identical to doc 9's
    batch = spark.createDataFrame(
        [(5, f"document number 9 {body} updated")], "doc_id int, text string"
    )
    pairs = minhash_incremental_pairs(
        batch, sigs, feats, jaccard_threshold=0.5, num_hash_tables=3
    ).collect()
    keys = [(r.doc_a, r.doc_b) for r in pairs]
    assert len(keys) == len(set(keys)), f"duplicate pairs: {keys}"
    assert (5, 9) in keys, keys  # matched via the NEW text, not the stale index row


def test_ngram_jaccard_max_df_bounds_hot_shingle_fanout(spark):
    """A boilerplate shingle shared by 1000 docs would put C(1000,2) ~=
    5e5 rows into the inverted-index self-join from ONE key (at web
    scale: 5e11). With max_df, the hot shingle is dropped BEFORE the
    join, so docs sharing ONLY boilerplate produce zero pairs — and the
    join's per-shingle input is bounded at C(max_df, 2)."""
    from jobhouse_spark.operators.similarity import ngram_jaccard_pairs

    # every doc: 3 shared boilerplate tokens (ONE shared 3-gram) + a
    # unique tail, so any pair overlaps only via the hot shingle
    docs = spark.createDataFrame(
        [(i, f"lorem ipsum dolor u{i} v{i} w{i}") for i in range(1000)],
        "doc_id long, text string",
    )
    capped = ngram_jaccard_pairs(docs, n=3, threshold=0.01, max_df=100)
    assert capped.count() == 0

    # contrast on a small slice: uncapped, the same data DOES pair via
    # the boilerplate shingle (jaccard 1/9 per pair) — C(30,2) pairs
    uncapped = ngram_jaccard_pairs(docs.filter("doc_id < 30"), n=3, threshold=0.01)
    assert uncapped.count() == 30 * 29 // 2

    # and with real overlap ABOVE the boilerplate, capped still finds it
    dup = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "totally different words here entirely now")],
        "doc_id long, text string",
    )
    got = ngram_jaccard_pairs(dup, n=3, threshold=0.5, max_df=100).collect()
    assert [(r.doc_a, r.doc_b) for r in got] == [(1, 2)]


def test_semantic_dedup_flags_planted_duplicates(spark):
    """A vector cluster containing an exact copy and a near-copy must
    flag the higher-id members as duplicates; an orthogonal-ish vector
    must survive. Smaller-id survivor election is deterministic."""
    from jobhouse_spark.operators.ann import ivf_fixed_centroids, semantic_dedup

    base = [1.0] + [0.0] * 63
    near = [1.0, 0.001] + [0.0] * 62
    far = [0.0] * 32 + [1.0] + [0.0] * 31
    rows = [(1, base), (2, base), (3, near), (9, far)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = ivf_fixed_centroids(11, 8, 64, 400_000)
    got = {r.vec_id: r.is_duplicate for r in semantic_dedup(emb, cents).collect()}
    assert got[1] is False          # smallest id in its group survives
    assert got[2] is True           # exact copy of 1
    # near-copy: same cell as base iff the quantizer puts them together;
    # cosine(base, near) ~ 0.9999 >= 0.35, so if co-located it must flag
    cells = {r.vec_id: r.cell for r in
             semantic_dedup(emb, cents).select("vec_id", "cell").collect()}
    if cells[3] == cells[1]:
        assert got[3] is True
    assert got[9] is False          # no similar smaller-id neighbor


def test_semantic_dedup_subsharding_matches_brute_force(spark, monkeypatch):
    """Triangle sub-sharding regression (SCALE.md SemDeDup post-mortem):
    force S > 1 by shrinking the shard size, plant a HOT cell (many
    co-located vectors, some duplicate pairs, some not), and require the
    sub-sharded pair enumeration to produce EXACTLY the brute-force
    duplicate set — every unordered pair tested once, none twice (a
    double-test would still flag the same ids, so also assert against a
    run where only same-bucket pairs would be missed: the planted dups
    span buckets by construction of the id hash)."""
    from jobhouse_spark.operators import ann
    from jobhouse_spark.operators.ann import ivf_fixed_centroids, semantic_dedup

    monkeypatch.setattr(ann, "_PAIR_SHARD_ROWS", 7)  # 60 rows -> S = 9

    # 30 near-duplicate pairs around one direction (hot cell) + 10 loners
    rows = []
    for i in range(30):
        v = [1.0, 0.002 * i] + [0.0] * 62
        rows.append((2 * i, v))
        rows.append((2 * i + 1, v))        # exact copy, one id up
    for i in range(10):
        v = [0.0] * 64
        v[4 + i * 5] = 1.0                 # scattered, no near neighbor
        rows.append((1000 + i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = ivf_fixed_centroids(11, 8, 64, 400_000)
    out = semantic_dedup(emb, cents).collect()

    # brute force over the SAME cells/quantization read back from the op
    cell_of = {r.vec_id: r.cell for r in out}
    mv = {vid: [round(x * 1e6) for x in v] for vid, v in rows}
    tau_dups = set()
    for aid in mv:
        for bid in mv:
            if aid < bid and cell_of[aid] == cell_of[bid]:
                dot = sum(x * y for x, y in zip(mv[aid], mv[bid]))
                na2 = sum(x * x for x in mv[aid])
                nb2 = sum(x * x for x in mv[bid])
                if dot > 0 and 400 * dot * dot >= 49 * na2 * nb2:
                    tau_dups.add(bid)
    got = {r.vec_id: r.is_duplicate for r in out}
    assert {vid for vid, d in got.items() if d} == tau_dups
    # the planted structure must be non-trivial for the test to mean
    # anything: lots of dups, and at least one loner surviving
    assert len(tau_dups) >= 30
    assert any(not got[1000 + i] for i in range(10))


def test_semantic_dedup_rejects_non_positive_threshold(spark):
    """tau = 0 ('any non-negative cosine') is unrepresentable: the
    dot > 0 pre-filter would silently drop the cos = 0 boundary, so the
    op must refuse at entry instead of returning wrong results."""
    from jobhouse_spark.operators.ann import ivf_fixed_centroids, semantic_dedup

    emb = spark.createDataFrame(
        [(1, [1.0] * 64)], "vec_id long, embedding array<float>"
    )
    cents = ivf_fixed_centroids(11, 8, 64, 400_000)
    with pytest.raises(ValueError, match="strictly positive"):
        semantic_dedup(emb, cents, tau_sq_num=0)
    with pytest.raises(ValueError, match="strictly positive"):
        semantic_dedup(emb, cents, tau_sq_den=0)


def test_semantic_dedup_collapsed_matches_direct(spark):
    """semantic_dedup_collapsed claims BIT-IDENTICAL output to direct
    semantic_dedup (the ann.py docstring carries the proof; this is the
    adversarial fixture). Corpus stresses every branch of the proof:
    replicated contents (the shortcut path), replicas of a ZERO vector
    (dot > 0 pre-filter: never duplicates despite being exact copies),
    near-copies across DIFFERENT contents (rep-level pair stage must
    reproduce direct pair verdicts), a NULL embedding pair (NULL cell,
    false, survives the null-safe join), and a singleton."""
    import random

    from jobhouse_spark.operators.ann import (
        ivf_fixed_centroids,
        semantic_dedup,
        semantic_dedup_collapsed,
    )

    rng = random.Random(7)
    rows = []
    vid = 0
    for content in range(12):  # 12 contents x 5 replicas
        vec = [rng.uniform(-1, 1) for _ in range(64)]
        for _ in range(5):
            rows.append((vid, vec))
            vid += 1
    near = [v + (0.001 if i == 0 else 0.0) for i, v in enumerate(rows[0][1])]
    rows.append((vid, near)); vid += 1          # near-copy of content 0
    for _ in range(3):                          # zero-vector replicas
        rows.append((vid, [0.0] * 64)); vid += 1
    rows.append((vid, None)); vid += 1          # NULL embeddings
    rows.append((vid, None)); vid += 1
    rows.append((vid, [0.5] * 64)); vid += 1    # singleton
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_fixed_centroids(11, 8, 64, 400_000)

    def canon(df):
        return sorted(
            (r.vec_id, r.cell, r.is_duplicate)
            for r in df.select("vec_id", "cell", "is_duplicate").collect()
        )

    direct = canon(semantic_dedup(emb, cents))
    collapsed = canon(semantic_dedup_collapsed(emb, cents))
    assert direct == collapsed
    got = dict((v, d) for v, _, d in collapsed)
    assert got[1] is True and got[0] is False   # replica / representative
    zero_ids = [vid - 6, vid - 5, vid - 4]
    assert all(got[z] is False for z in zero_ids)  # zero copies: dot>0 gate
    with pytest.raises(ValueError, match="tau <= 1"):
        semantic_dedup_collapsed(emb, cents, tau_sq_num=401, tau_sq_den=400)


def test_md5_int_matrix_matches_duckdb():
    """The l23b codebook contract: md5_int_matrix (Python) and its SQL
    twin (MD5_INT32_SQL over 'tag:row:col' then % (2R+1) - R) must
    agree component-for-component, so the k-from-N oracle can derive
    the centroids at runtime instead of interpolating constants."""
    import duckdb

    from jobhouse_spark.functions.hashing import MD5_INT32_SQL, md5_int_matrix

    R = 400_000
    want = md5_int_matrix("c23", 5, 7, R)
    md5c = MD5_INT32_SQL.format(
        x="'c23:' || CAST(cell AS VARCHAR) || ':' || CAST(d AS VARCHAR)"
    )
    got = duckdb.connect().execute(
        f"""
        SELECT list_transform(range(0, 7), d -> {md5c} % {2 * R + 1} - {R})
        FROM (SELECT UNNEST(range(0, 5)) AS cell) ORDER BY cell
        """
    ).fetchall()
    assert [list(r[0]) for r in got] == want


def test_ngram_jaccard_capped_empty_doc_set_size(spark):
    """ADVICE r7: explode_outer's NULL-shingle rows survive the max_df
    left_anti prune; the per-doc size recompute must not count them
    (an empty-shingle doc would get set_size=1 and could corrupt any
    future consumer of the size). Empty docs produce no pairs, and the
    pair set over real docs is unchanged by their presence."""
    from jobhouse_spark.operators.similarity import ngram_jaccard_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "xx"),  # < n tokens -> empty shingle set -> NULL explode row
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_df=100).collect()
    assert [(r.doc_a, r.doc_b) for r in got] == [(1, 2)]
    assert all(r.jaccard == 1.0 for r in got)


def test_kmeans_refine_converges_on_planted_clusters(spark):
    """One Lloyd step on two well-separated planted clusters, started
    from deliberately offset centroids, must (a) move every centroid to
    its cluster's exact integer mean, (b) re-assign with zero movement
    (the step is already optimal for separated data), and (c) checksum
    memberships exactly."""
    from jobhouse_spark.operators.ann import kmeans_refine

    a = [(i, [1.0 + 0.001 * i] + [0.0] * 63) for i in range(1, 5)]
    b = [(i, [0.0] * 32 + [1.0 + 0.001 * i] + [0.0] * 31) for i in range(11, 15)]
    emb = spark.createDataFrame(a + b, "vec_id long, embedding array<float>")
    # offset starting centroids that still separate the clusters
    c0 = [[500_000] + [0] * 63, [0] * 32 + [500_000] + [0] * 31]
    rows = {r.cell: r for r in kmeans_refine(emb, c0).collect()}
    assert set(rows) == {0, 1}
    assert rows[0].n_members == 4 and rows[1].n_members == 4
    assert rows[0].moved_in == 0 and rows[1].moved_in == 0
    assert rows[0].member_chk == 1 + 2 + 3 + 4
    assert rows[1].member_chk == 11 + 12 + 13 + 14
    # refined centroid 0 = integer mean of cluster A micro-vectors:
    # component 0 = (1001000+1002000+1003000+1004000) div 4 = 1002500
    assert rows[0].cent_chk == 1_002_500
    assert rows[1].cent_chk == (1_011_000 + 1_012_000 + 1_013_000 + 1_014_000) // 4


def test_kmeans_refine_drops_empty_cells_and_null_vectors(spark):
    """Cells that attract no members in step 1 have no refined centroid;
    NULL embeddings are excluded end-to-end."""
    from jobhouse_spark.operators.ann import kmeans_refine

    rows = [(1, [1.0] + [0.0] * 63), (2, [1.0] + [0.0] * 63), (3, None)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    c0 = [[500_000] + [0] * 63, [-500_000] * 64]  # cell 1 attracts nothing
    got = kmeans_refine(emb, c0).collect()
    assert [(r.cell, r.n_members, r.member_chk) for r in got] == [(0, 2, 3)]
