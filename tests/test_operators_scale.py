"""Scale-operator semantics: salted ops equal unsalted, IVF ANN recall,
TF-IDF shape, metadata store round trip."""

from __future__ import annotations

import tempfile

import pytest

from pyspark.sql import functions as F

from jobhouse_spark.operators.ann import ivf_top_k, train_centroids
from jobhouse_spark.operators.similarity import brute_force_top_k
from jobhouse_spark.operators.skew import salted_group_count, salted_join
from jobhouse_spark.tables import Tables


def test_salted_group_count_equals_plain(spark, sf_dir):
    e = Tables(spark, sf_dir).events
    plain = {r.event_type: r.n for r in e.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    salted = {r.event_type: r.n for r in salted_group_count(e, "event_type").collect()}
    assert salted == plain


@pytest.mark.campaign  # round-15 verdict task 1: driver verify-window
def test_salted_join_equals_plain(spark, sf_dir):
    t = Tables(spark, sf_dir)
    plain = (
        t.customer.join(t.nation, t.customer.c_nationkey == t.nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n"))
    )
    salted = (
        salted_join(
            t.customer.withColumnRenamed("c_nationkey", "nk"),
            t.nation.withColumnRenamed("n_nationkey", "nk"),
            "nk",
        )
        .groupBy("n_name")
        .agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_group_count_map_column_schema(spark, sf_dir):
    """Default salt columns must skip unhashable (Map) columns — the
    bronze envelope carries a map<string,string> metadata column and
    xxhash64 rejects MapType outright."""
    e = Tables(spark, sf_dir).events.limit(200).withColumn(
        "meta", F.create_map(F.lit("k"), F.col("event_type"))
    )
    plain = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    salted = {r.event_type: r.n for r in salted_group_count(e, "event_type").collect()}
    assert salted == plain


@pytest.mark.campaign  # round-15 verdict task 1: driver verify-window
def test_salted_join_bounds_hot_key_reducer(spark):
    """The scale property salting buys: a key holding ~30% of the fact
    table lands on ONE reducer unsalted, but spreads over (nearly) all
    n_salts salt values with a content-derived salt, so no single
    (key, salt) group exceeds ~2x the ideal hot_n/n_salts share. This
    is the deterministic core of the wall-clock effect in SCALE.md,
    "Measured: skew mitigation"."""
    from jobhouse_spark.operators.skew import _row_salt

    n, n_salts = 20_000, 16
    hot_key = 999_999_999  # outside range(n), so hot rows are exactly 30%
    fact = spark.range(n).select(
        F.when(F.col("id") % 10 < 3, hot_key).otherwise(F.col("id")).alias("user_id"),
        F.col("id").alias("event_id"),
    )
    hot_n = fact.filter(F.col("user_id") == hot_key).count()
    assert hot_n == n * 3 // 10

    salted = fact.withColumn("__salt", _row_salt(fact, n_salts, None))
    hot = (
        salted.filter(F.col("user_id") == hot_key)
        .groupBy("__salt")
        .count()
        .collect()
    )
    assert len(hot) >= n_salts - 2, f"hot key only spread over {len(hot)} salts"
    assert max(r["count"] for r in hot) <= 2 * hot_n / n_salts

    # and the salted join still equals the plain join on skewed data
    dim = fact.select("user_id").distinct().withColumn(
        "seg", F.pmod("user_id", F.lit(13))
    )
    plain = fact.join(dim, "user_id")
    salted_j = salted_join(fact, dim, "user_id", n_salts=n_salts)
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted_j.select(plain.columns).collect())
    )


def test_row_salt_all_map_columns_raises_clearly(spark):
    """A frame with ONLY unhashable (map) columns and partition-id
    mixing off has no salt inputs at all — that must be a clear
    ValueError, not xxhash64's opaque zero-arg analysis failure."""
    import pytest

    from jobhouse_spark.operators.skew import _row_salt

    all_maps = spark.range(3).select(
        F.create_map(F.lit("k"), F.col("id").cast("string")).alias("m")
    )
    with pytest.raises(ValueError, match="no hashable columns"):
        _row_salt(all_maps, 16, None)
    # partition-id mixing restores a hash input, so this path still works
    salted = all_maps.withColumn(
        "__salt", _row_salt(all_maps, 16, None, spread_identical_rows=True)
    )
    assert salted.count() == 3


def test_salted_count_duplicate_rows_spread(spark):
    """With spread_identical_rows=True, literally-identical hot rows land
    on >1 salt (the partition-id hash input spreads them); counts stay
    exact. The DEFAULT salt is pure row content — retry-deterministic —
    so identical rows collapse onto a single salt value."""
    from jobhouse_spark.operators.skew import _row_salt

    dup = (
        spark.range(10_000)
        .repartition(8)
        .select(F.lit("hot").alias("k"), F.lit(1).alias("v"))
    )
    spread = dup.withColumn(
        "__salt", _row_salt(dup, 16, None, spread_identical_rows=True)
    ).select("__salt").distinct().count()
    assert spread > 1
    default = dup.withColumn("__salt", _row_salt(dup, 16, None)).select(
        "__salt"
    ).distinct().count()
    assert default == 1  # content-only salt: deterministic under retry
    counted = salted_group_count(dup, "k", spread_identical_rows=True).collect()
    assert counted[0].n == 10_000


@pytest.mark.campaign  # round-15 verdict task 1: driver verify-window
def test_ivf_ann_recall_vs_brute_force(spark, sf_dir):
    emb = Tables(spark, sf_dir).embeddings
    probes = emb.filter(F.col("vec_id") < 5)
    centroids = train_centroids(emb, n_cells=8)
    assert len(centroids) == 8 and len(centroids[0]) == 64
    exact = brute_force_top_k(probes, emb, k=10).collect()
    approx = ivf_top_k(probes, emb, centroids, k=10, n_probe=4).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 4 of 8 cells probed: expect to recover most true neighbors
    assert recall >= 0.6, f"IVF recall {recall}"


def test_tfidf_pipeline_shape(spark, sf_dir):
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer

    docs = Tables(spark, sf_dir).documents.limit(200)
    toks = Tokenizer(inputCol="text", outputCol="toks").transform(docs)
    tf = HashingTF(inputCol="toks", outputCol="tf", numFeatures=1 << 12).transform(toks)
    idf_model = IDF(inputCol="tf", outputCol="tfidf").fit(tf)
    out = idf_model.transform(tf).select("doc_id", "tfidf").collect()
    assert len(out) == 200
    v = out[0].tfidf
    assert v.size == 1 << 12 and v.numNonzeros() > 0


def test_metadata_store_roundtrip_and_dedup(spark):
    from datetime import datetime

    from jobhouse_spark.metadata_store import MetadataStore

    store = MetadataStore(spark, tempfile.mkdtemp(prefix="jh_meta_") + "/meta")
    assert store.read().count() == 0  # empty-store bootstrap

    rows = [
        ("HH", "b1", "HH/2024/03/05/14/b1.jsonl.gz", datetime(2024, 3, 5, 14), "e1"),
        ("HH", "b2", "HH/2024/03/05/15/b2.jsonl.gz", datetime(2024, 3, 5, 15), "e2"),
    ]
    from jobhouse_spark.sources.bronze import STORAGE_METADATA_SCHEMA

    store.append(spark.createDataFrame(rows, STORAGE_METADATA_SCHEMA))
    assert store.read().count() == 2
    assert {r.batch_id for r in store.ingested_batch_ids().collect()} == {"b1", "b2"}

    incoming = spark.createDataFrame(
        [rows[0], ("HH", "b3", "HH/2024/03/05/16/b3.jsonl.gz", datetime(2024, 3, 5, 16), "e3")],
        STORAGE_METADATA_SCHEMA,
    )
    new = store.filter_new_postings(incoming)
    assert {r.batch_id for r in new.collect()} == {"b3"}

    # without the dedup key the check must refuse, not pass every row
    # through as new (that would re-ingest the whole history)
    with pytest.raises(ValueError, match="s3_key"):
        store.filter_new_postings(incoming.drop("s3_key"))


def test_metadata_store_corrupt_raises(spark):
    """A CORRUPT store must raise, not silently restart dedup history:
    only a missing path means 'first run'."""
    import os

    import pytest

    from jobhouse_spark.metadata_store import MetadataStore

    path = tempfile.mkdtemp(prefix="jh_meta_corrupt_") + "/meta"
    os.makedirs(path)
    with open(os.path.join(path, "part-00000.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    store = MetadataStore(spark, path)
    with pytest.raises(Exception) as exc_info:
        store.read().collect()
    assert "PATH_NOT_FOUND" not in str(exc_info.value)


def test_metadata_store_jdbc_backend(spark):
    """S6 for real: MetadataStore over embedded Derby JDBC — the same
    read/write.jdbc path a networked Postgres would use (reference
    docker-compose.yml:231-246)."""
    from datetime import datetime

    from jobhouse_spark.metadata_store import MetadataStore
    from jobhouse_spark.sources.bronze import STORAGE_METADATA_SCHEMA

    db = tempfile.mkdtemp(prefix="jh_meta_jdbc_") + "/db"
    store = MetadataStore(
        spark,
        path="",
        jdbc_options={
            "url": f"jdbc:derby:{db};create=true",
            "dbtable": "storage_metadata",
            "driver": "org.apache.derby.jdbc.EmbeddedDriver",
        },
    )
    rows = [
        ("HH", "b1", "HH/2024/03/05/14/b1.jsonl.gz", datetime(2024, 3, 5, 14), "e1"),
        ("HH", "b2", "HH/2024/03/05/15/b2.jsonl.gz", datetime(2024, 3, 5, 15), "e2"),
    ]
    df = spark.createDataFrame(rows, STORAGE_METADATA_SCHEMA)
    # first append auto-creates the table via createTableOptions defaults
    df.limit(1).write.format("jdbc").options(**store.jdbc_options).mode(
        "overwrite"
    ).save()
    store.append(df.where("batch_id = 'b2'"))
    assert store.read().count() == 2
    assert {r.batch_id for r in store.ingested_batch_ids().collect()} == {"b1", "b2"}


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """S10's scale claim: two tables bucketed+sorted on the join key with
    equal bucket counts sort-merge-join with NO Exchange on either side
    (broadcast disabled so the small side can't cheat)."""
    t = Tables(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="jh_s10_test_")
    spark.sql("DROP TABLE IF EXISTS jh_s10t_orders")
    spark.sql("DROP TABLE IF EXISTS jh_s10t_customer")
    (
        t.orders.write.mode("overwrite")
        .option("path", base + "/orders")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable("jh_s10t_orders")
    )
    (
        t.customer.write.mode("overwrite")
        .option("path", base + "/customer")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable("jh_s10t_customer")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.table("jh_s10t_orders")
        c = spark.table("jh_s10t_customer")
        joined = o.join(c, o.o_custkey == c.c_custkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and it is not just a pretty plan — the join actually answers
        n_bucketed = joined.count()
        n_plain = t.orders.join(
            t.customer, t.orders.o_custkey == t.customer.c_custkey
        ).count()
        assert n_bucketed == n_plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_stratified_sample_properties(spark, sf_dir):
    """L10: per-stratum proportions near targets, same-seed determinism,
    strict-subset property; split partitions exactly."""
    from jobhouse_spark.operators.sampling import stratified_sample, train_eval_split

    d = Tables(spark, sf_dir).documents
    fr = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.1}
    s1 = stratified_sample(d, "lang", fr, seed=42)
    s2 = stratified_sample(d, "lang", fr, seed=42)
    # same seed -> identical draw
    assert sorted(r.doc_id for r in s1.collect()) == sorted(
        r.doc_id for r in s2.collect()
    )
    # subset of source, dropped stratum absent
    assert s1.filter(F.col("lang") == "zh").count() == 0
    totals = {r.lang: r.n for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r.lang: r.n for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, frac in fr.items():
        # Bernoulli draw: allow generous tolerance on small strata
        expect = totals[lang] * frac
        assert abs(got.get(lang, 0) - expect) <= max(10, 0.5 * expect), (lang, got, expect)

    train, ev = train_eval_split(d, eval_fraction=0.2, seed=7)
    n_train, n_eval, n_all = train.count(), ev.count(), d.count()
    assert n_train + n_eval == n_all
    # disjoint: no doc_id on both sides
    assert train.join(ev, "doc_id", "inner").count() == 0


def test_connected_components_exact(spark):
    """Chain, triangle, and singleton all resolve to min-id components
    in O(diameter) rounds."""
    from jobhouse_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "node long")
    # chain 1-2-3-4, triangle 5-6-7 (with redundant edge), singleton 8
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (5, 7)], "src long, dst long"
    )
    got = {
        r.node: r.component
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 8}


def test_connected_components_random_graphs(spark):
    """Distributed min-label propagation agrees with a driver-side
    union-find on randomized graphs (including long chains, which
    stress the iteration bound)."""
    import random

    from jobhouse_spark.operators.graph import connected_components

    rng = random.Random(7)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(10, 35))
        ]
        # a deliberate 12-node chain to force multi-round propagation
        chain0 = rng.randrange(n - 12)
        edges += [(i, i + 1) for i in range(chain0, chain0 + 11)]

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expect = {v: find(v) for v in range(n)}

        nodes_df = spark.createDataFrame([(i,) for i in range(n)], "node long")
        edges_df = spark.createDataFrame(
            [(a, b) for a, b in edges], "src long, dst long"
        )
        got = {
            r.node: r.component
            for r in connected_components(nodes_df, edges_df).collect()
        }
        assert got == expect, f"trial {trial}: {got} != {expect}"


def test_chunking_and_packing_invariants(spark, sf_dir):
    """l11/l17 invariants: chunks tile every token with stride overlap;
    every document lands in exactly one shard and shards respect the
    fill order."""
    from jobhouse_spark.queries import all_queries

    chunks = all_queries()["l11_doc_chunking"].fn(spark, sf_dir).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_start)
        # starts advance by exactly the stride; first chunk starts at 1
        starts = [r.chunk_start for r in rows]
        assert starts[0] == 1
        assert all(b - a == 48 for a, b in zip(starts, starts[1:]))
        # every chunk is non-empty and at most the window size
        assert all(1 <= r.n_tok <= 64 for r in rows)
        # consecutive chunks overlap by window - stride (except the tail)
        for a, b in zip(rows, rows[1:]):
            assert a.chunk_start + a.n_tok > b.chunk_start

    packed = all_queries()["l17_token_budget_packing"].fn(spark, sf_dir).collect()
    seen = set()
    per_source = {}
    for r in packed:
        assert r.doc_id not in seen  # exactly one shard per doc
        seen.add(r.doc_id)
        per_source.setdefault(r.source, []).append(r)
    for source, rows in per_source.items():
        rows.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rows:
            assert r.shard_id == (cum // 512), (source, r)
            cum += r.n_tok


def test_bm25_dominance(spark, sf_dir):
    """BM25 sanity: scores are positive, and for two docs of equal
    length, a componentwise >= per-term tf vector (with one strictly
    greater) must score higher — BM25 is monotone in each tf. (Total
    match count is NOT monotone across term mixes: idf weights differ.)
    """
    from itertools import combinations

    from pyspark.sql import functions as F

    from jobhouse_spark.queries import all_queries
    from jobhouse_spark.tables import Tables

    scores = {
        r.doc_id: r.bm25
        for r in all_queries()["l14_bm25"].fn(spark, sf_dir).collect()
    }
    assert scores and all(v > 0 for v in scores.values())

    d = Tables(spark, sf_dir).documents
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")

    def tf_of(term):
        # a dedicated closure: a 2-arg lambda (x, t=term) would be
        # treated by the HOF as the (element, index) form
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    rows = d.select(
        "doc_id",
        F.size(toks).alias("dl"),
        tf_of("data").alias("t1"),
        tf_of("query").alias("t2"),
        tf_of("hash").alias("t3"),
    ).collect()
    by_len = {}
    for r in rows:
        if r.doc_id in scores:
            by_len.setdefault(r.dl, []).append(
                ((r.t1, r.t2, r.t3), scores[r.doc_id])
            )
    checked = 0
    for dl, entries in by_len.items():
        for (v1, s1), (v2, s2) in combinations(entries, 2):
            if v1 == v2:
                assert s1 == s2, (dl, v1, s1, s2)
            elif all(a >= b for a, b in zip(v1, v2)):
                assert s1 > s2, (dl, v1, s1, v2, s2)
                checked += 1
            elif all(b >= a for a, b in zip(v1, v2)):
                assert s2 > s1, (dl, v1, s1, v2, s2)
                checked += 1
    assert checked > 0


def test_compaction_rewrites_small_files(spark, sf_dir):
    """Maintenance: 64 drip-fed files compact to the handful their
    volume warrants, content-identical; sort_by clusters ranges so each
    output file covers a disjoint key span (min/max prunable)."""
    import os

    from jobhouse_spark.operators.maintenance import compact_parquet, plan_compaction

    assert plan_compaction(10, 3) == 4 and plan_compaction(1, 100) == 1

    o = Tables(spark, sf_dir).orders
    base = tempfile.mkdtemp(prefix="jh_compact_")
    frag, dst = base + "/frag", base + "/compacted"
    o.repartition(64).write.parquet(frag)  # simulate batch-drip sprawl

    def data_files(p):
        return [f for f in os.listdir(p) if f.endswith(".parquet")]

    assert len(data_files(frag)) == 64
    back = compact_parquet(
        spark, frag, dst, target_file_bytes=256 * 1024, sort_by="o_orderkey"
    )
    assert 1 <= len(data_files(dst)) < 64
    # content identical
    key = lambda r: r.o_orderkey  # noqa: E731
    assert sorted(map(key, back.collect())) == sorted(map(key, o.collect()))
    # range clustering: per-file key spans are disjoint
    spans = []
    for f in data_files(dst):
        part = spark.read.parquet(os.path.join(dst, f))
        row = part.agg(
            F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
        ).collect()[0]
        spans.append((row.lo, row.hi))
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, spans


def test_nearest_cells_udf_matches_expr(spark, sf_dir):
    """The large-codebook numpy-UDF assignment must agree with the
    literal-expression path cell-for-cell (same ranking key up to a
    per-row constant, same index tie-break)."""
    from jobhouse_spark.operators.ann import nearest_cells

    emb = Tables(spark, sf_dir).embeddings.limit(200)
    centroids = train_centroids(emb, n_cells=8)
    both = emb.select(
        "vec_id",
        nearest_cells(F.col("embedding"), centroids, k=3, strategy="expr").alias("e"),
        nearest_cells(F.col("embedding"), centroids, k=3, strategy="udf").alias("u"),
    ).collect()
    for r in both:
        assert list(r.e) == list(r.u), (r.vec_id, r.e, r.u)


@pytest.mark.campaign  # round-15 verdict task 1: driver verify-window
def test_ivf_udf_strategy_matches_expr_strategy(spark, sf_dir):
    emb = Tables(spark, sf_dir).embeddings
    probes = emb.filter(F.col("vec_id") < 3)
    centroids = train_centroids(emb, n_cells=8)
    a = ivf_top_k(probes, emb, centroids, k=5, assign_strategy="expr").collect()
    b = ivf_top_k(probes, emb, centroids, k=5, assign_strategy="udf").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_parse_byte_size():
    from jobhouse_spark.operators.similarity import _parse_byte_size

    assert _parse_byte_size("10MB") == 10 * 1024 * 1024
    assert _parse_byte_size("10485760b") == 10 * 1024 * 1024
    assert _parse_byte_size("-1") == -1
    assert _parse_byte_size("1g") == 1 << 30
    assert _parse_byte_size("512k") == 512 * 1024


def test_lsh_auto_broadcast_public_gate(spark, sf_dir):
    """The 'auto' probe-broadcast gate is public-API only (bounded
    count — no _jdf/Catalyst internals): a tiny probe set broadcasts,
    autoBroadcastJoinThreshold=-1 means NEVER broadcast (not
    'broadcast empty'), and both forced strategies return identical
    answers, so the gate can only affect the plan."""
    import inspect

    from jobhouse_spark.operators import similarity

    # the gate must never regress onto the private API (docstrings may
    # mention the name; an attribute access "._jdf" is the regression)
    assert "._jdf" not in inspect.getsource(similarity)

    emb = Tables(spark, sf_dir).embeddings
    probes = emb.filter(F.col("vec_id") < 3)
    assert similarity._should_broadcast_probes(probes, "embedding", 3) is True

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert (
            similarity._should_broadcast_probes(probes, "embedding", 3) is False
        )
        # even an EMPTY probe set must not broadcast under -1
        empty = probes.filter(F.lit(False))
        assert (
            similarity._should_broadcast_probes(empty, "embedding", 3) is False
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    forced = similarity.lsh_top_k(probes, emb, k=5, broadcast_queries=True).collect()
    shuffled = similarity.lsh_top_k(probes, emb, k=5, broadcast_queries=False).collect()
    assert sorted(map(tuple, forced)) == sorted(map(tuple, shuffled))


def test_zorder_value_interleaves_bits(spark):
    """zorder_value: output bit b*n+i == bit b of column i (Morton)."""
    from jobhouse_spark.operators.maintenance import zorder_value

    df = spark.createDataFrame([(2, 3)], "a int, b int")
    z = df.select(zorder_value([F.col("a"), F.col("b")], bits=2).alias("z"))
    # a=0b10, b=0b11 -> bits: pos0=a0(0) pos1=b0(1) pos2=a1(1) pos3=b1(1)
    assert z.first().z == 0b1110


def test_equi_depth_bin_counts_boundaries(spark):
    from jobhouse_spark.operators.maintenance import equi_depth_bin

    df = spark.createDataFrame([(v,) for v in (1, 5, 10, 99, None)], "v int")
    rows = df.select("v", equi_depth_bin("v", [5.0, 50.0]).alias("b")).collect()
    got = {r.v: r.b for r in rows}
    assert got == {1: 0, 5: 1, 10: 1, 99: 2, None: 0}


def test_zorder_compact_clusters_both_dimensions(spark, sf_dir):
    """Z-order vs lexicographic: the z-ordered layout bounds EVERY
    output file's span on BOTH key dimensions, while sort_by=custkey
    leaves each file spanning ~the full orderkey range. Content must
    stay identical either way."""
    import os

    from jobhouse_spark.operators.maintenance import compact_parquet, zorder_compact

    o = Tables(spark, sf_dir).orders
    base = tempfile.mkdtemp(prefix="jh_zorder_")
    frag = base + "/frag"
    o.repartition(32).write.parquet(frag)
    target = 8 * 1024  # force several output files even at sf0.001

    zdf = zorder_compact(
        spark, frag, base + "/z", cols=["o_custkey", "o_orderkey"],
        target_file_bytes=target, bins=64,
    )
    ldf = compact_parquet(
        spark, frag, base + "/lex", target_file_bytes=target, sort_by="o_custkey"
    )
    # content identical to the source for both rewrites
    src_keys = sorted(r.o_orderkey for r in o.collect())
    assert sorted(r.o_orderkey for r in zdf.collect()) == src_keys
    assert sorted(r.o_orderkey for r in ldf.collect()) == src_keys

    full = o.agg(
        (F.max("o_custkey") - F.min("o_custkey")).alias("c"),
        (F.max("o_orderkey") - F.min("o_orderkey")).alias("k"),
    ).first()

    def span_fracs(path):
        fracs = []
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            r = spark.read.parquet(os.path.join(path, f)).agg(
                (F.max("o_custkey") - F.min("o_custkey")).alias("c"),
                (F.max("o_orderkey") - F.min("o_orderkey")).alias("k"),
            ).first()
            fracs.append((r.c / full.c, r.k / full.k))
        return fracs

    zf, lf = span_fracs(base + "/z"), span_fracs(base + "/lex")
    assert len(zf) >= 4, "need several files for the layout claim"
    med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
    # lexicographic: orderkey dimension unclustered (files span ~all of it)
    assert med([k for _c, k in lf]) > 0.9
    # z-order: the TYPICAL file is tight on BOTH dimensions...
    assert med([c for c, _k in zf]) < 0.6
    assert med([k for _c, k in zf]) < 0.6
    # ...and even the worst file never spans both dimensions fully
    assert all(min(c, k) < 0.75 for c, k in zf)


def test_manifest_pruning_skips_files_and_matches_full_scan(spark, sf_dir):
    """File-level data skipping: the manifest plans a selective range
    query down to a small fraction of the clustered files, and the
    pruned read returns exactly the full-scan result. Also covers the
    superset contract (the exact predicate re-applies after pruning)
    and the nothing-survives edge (empty but correctly-typed)."""
    from jobhouse_spark.operators.maintenance import (
        build_manifest,
        compact_parquet,
        manifest_pruned_read,
    )

    o = Tables(spark, sf_dir).orders
    base = tempfile.mkdtemp(prefix="jh_manifest_")
    frag, dst = base + "/frag", base + "/clustered"
    o.repartition(32).write.parquet(frag)
    compact_parquet(spark, frag, dst, target_file_bytes=8 * 1024,
                    sort_by="o_orderkey")

    manifest = build_manifest(spark, dst, ["o_orderkey"])
    n_files = manifest.count()
    assert n_files >= 6, "need several files for the skip claim"

    # a ~5%-of-keyspace window, sf-relative
    kmin, kmax = o.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    lo = kmin + (kmax - kmin) * 2 // 5
    hi = lo + max(1, (kmax - kmin) // 20)
    pruned = manifest_pruned_read(spark, manifest, {"o_orderkey": (lo, hi)})
    # planning: candidate files admitted by min/max
    cand = manifest.filter(
        (F.col("o_orderkey_min") <= hi) & (F.col("o_orderkey_max") >= lo)
    ).count()
    assert cand < n_files / 2, (cand, n_files)

    want = sorted(
        r.o_orderkey for r in o.filter(F.col("o_orderkey").between(lo, hi)).collect()
    )
    got = sorted(r.o_orderkey for r in pruned.collect())
    assert got == want and len(got) > 0

    # nothing-survives edge: schema preserved, zero rows
    empty = manifest_pruned_read(spark, manifest, {"o_orderkey": (-10, -5)})
    assert empty.count() == 0
    assert empty.columns == pruned.columns


def test_update_manifest_equals_rebuild(spark, sf_dir, tmp_path):
    """Incremental manifest maintenance: after a second ingest batch
    lands, update (stats the NEW files only) must equal a full rebuild;
    after files vanish (compaction), their rows must drop."""
    import os
    import shutil

    from jobhouse_spark.operators.maintenance import (
        build_manifest,
        update_manifest,
    )

    root = str(tmp_path / "t")
    o = Tables(spark, sf_dir).orders
    o.filter(F.col("o_orderkey") % 2 == 0).repartition(4).write.parquet(root)
    m1 = build_manifest(spark, root, ["o_orderkey"])

    # batch 2: odd keys appended as new files
    o.filter(F.col("o_orderkey") % 2 == 1).repartition(3) \
        .write.mode("append").parquet(root)

    def canon(df):
        return sorted(map(tuple, df.collect()))

    updated = update_manifest(spark, root, m1, ["o_orderkey"])
    rebuilt = build_manifest(spark, root, ["o_orderkey"])
    assert canon(updated) == canon(rebuilt)
    assert updated.count() == m1.count() + 3

    # deletion: remove one data file; update drops exactly its row.
    # Materialize first — in production the manifest is PERSISTED
    # metadata; a lazy frame would re-scan data files on every use
    # (and here would re-read the file we are about to delete).
    updated = spark.createDataFrame(updated.collect(), updated.schema)
    victim = next(f for f in os.listdir(root) if f.endswith(".parquet"))
    os.remove(os.path.join(root, victim))
    shrunk = update_manifest(spark, root, updated, ["o_orderkey"])
    assert shrunk.count() == updated.count() - 1
    assert not [r for r in shrunk.collect() if victim in r.file]
    shutil.rmtree(root, ignore_errors=True)


def test_zorder_value_three_columns(spark):
    """Generic n-column Morton: bit b of column i lands at b*n+i."""
    from jobhouse_spark.operators.maintenance import zorder_value

    df = spark.createDataFrame([(1, 2, 3)], "a int, b int, c int")
    z = df.select(
        zorder_value([F.col("a"), F.col("b"), F.col("c")], bits=2).alias("z")
    ).first().z
    # a=01: bit0->pos0; b=10: bit1->pos4; c=11: bit0->pos2, bit1->pos5
    assert z == (1 << 0) | (1 << 4) | (1 << 2) | (1 << 5)


def test_equi_depth_bins_balance_skewed_column(spark):
    """The equi-depth claim: on a heavily skewed column (90% of rows in
    1% of the value range) quantile-derived bins still spread rows
    ~evenly, where equi-WIDTH bins would pile 90% into one bin."""
    from jobhouse_spark.operators.maintenance import equi_depth_bin

    n = 20_000
    skewed = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.col("id") % 100)  # 90% in [0,100)
        .otherwise(F.col("id"))                           # 10% spread to 20k
        .alias("v")
    )
    bins = 8
    bounds = skewed.approxQuantile("v", [i / bins for i in range(1, bins)], 0.01)
    uniq = []
    for x in bounds:
        if not uniq or x > uniq[-1]:
            uniq.append(x)
    counts = [
        r["count"] for r in
        skewed.select(equi_depth_bin("v", uniq).alias("b"))
        .groupBy("b").count().collect()
    ]
    # no bin holds more than ~3x the ideal share (equi-width would put
    # ~90% of rows into bin 0)
    assert max(counts) < 3 * n / bins, counts
    assert len(counts) >= bins - 2


def test_manifest_over_zorder_prunes_both_dimensions(spark, oracle_sf_dir):
    """Composition: a two-column manifest over a Z-ORDERED table gives
    FILE-level pruning on a conjunction of both dimensions (each z
    file is a hyper-rectangle, so its min/max box is tight on both),
    and the planned read equals the plain filtered scan."""
    from jobhouse_spark.operators.maintenance import (
        build_manifest,
        manifest_pruned_read,
        zorder_compact,
    )

    # sf0.01: ~90 files at this target — enough curve slices for the
    # hyper-rectangle geometry to show (sf0.001's 9 files are too few)
    o = Tables(spark, oracle_sf_dir).orders
    base = tempfile.mkdtemp(prefix="jh_mz_")
    o.repartition(16).write.parquet(base + "/src")
    zorder_compact(
        spark, base + "/src", base + "/z",
        cols=["o_custkey", "o_orderkey"], target_file_bytes=8 * 1024,
        bins=8,  # bins ~ sqrt(files): SCALE.md's own guidance — more
        # bins than curve slices fragments the hyper-rectangles
    )
    manifest = build_manifest(spark, base + "/z", ["o_custkey", "o_orderkey"])
    n_files = manifest.count()
    assert n_files >= 4

    r = o.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_orderkey"), F.max("o_orderkey"),
    ).first()
    c_lo = r[0] + (r[1] - r[0]) * 2 // 5
    c_hi = c_lo + max(1, (r[1] - r[0]) // 8)
    k_lo = r[2] + (r[3] - r[2]) * 2 // 5
    k_hi = k_lo + max(1, (r[3] - r[2]) // 8)
    ranges = {"o_custkey": (c_lo, c_hi), "o_orderkey": (k_lo, k_hi)}

    got = sorted(
        r2.o_orderkey
        for r2 in manifest_pruned_read(spark, manifest, ranges).collect()
    )
    want = sorted(
        r2.o_orderkey
        for r2 in o.filter(
            F.col("o_custkey").between(c_lo, c_hi)
            & F.col("o_orderkey").between(k_lo, k_hi)
        ).collect()
    )
    assert got == want

    cond = (
        (F.col("o_custkey_min") <= c_hi) & (F.col("o_custkey_max") >= c_lo)
        & (F.col("o_orderkey_min") <= k_hi) & (F.col("o_orderkey_max") >= k_lo)
    )
    cand = manifest.filter(cond).count()
    assert cand < n_files / 2, (cand, n_files)


def test_vacuum_partitions_guards_and_boundary(spark, tmp_path):
    """Retention vacuum: strictly-below-cutoff days deleted, boundary
    day survives, non-partition entries untouched, escaped partition
    values refused loudly (they could alias the wrong directory)."""
    import os

    import pytest

    from jobhouse_spark.operators.maintenance import vacuum_partitions

    root = str(tmp_path / "t")
    rows = [(i, f"2024-01-{1 + i % 4:02d}", "x") for i in range(40)]
    spark.createDataFrame(rows, "id int, day string, s string") \
        .write.partitionBy("day").parquet(root)
    # a stray non-partition directory must be ignored
    os.makedirs(os.path.join(root, "not_a_partition"))

    removed = vacuum_partitions(spark, root, "day", "2024-01-03")
    assert removed == ["2024-01-01", "2024-01-02"]
    left = spark.read.parquet(root)
    assert {str(r.day) for r in left.select("day").distinct().collect()} == {
        "2024-01-03", "2024-01-04"
    }
    assert left.count() == 20
    assert os.path.isdir(os.path.join(root, "not_a_partition"))
    # idempotent: nothing below the cutoff remains
    assert vacuum_partitions(spark, root, "day", "2024-01-03") == []

    # escaped values: refuse, don't guess
    root2 = str(tmp_path / "t2")
    spark.createDataFrame([(1, "2024 01 05")], "id int, day string") \
        .write.partitionBy("day").parquet(root2)
    with pytest.raises(ValueError, match="does not match value_pattern"):
        vacuum_partitions(spark, root2, "day", "2024-01-03")
    # format-compat guard: an unpadded cutoff would lexicographically
    # sort AFTER '2024-10-xx' and delete newer-than-cutoff partitions —
    # refuse the cutoff itself
    with pytest.raises(ValueError, match="cutoff"):
        vacuum_partitions(spark, root, "day", "2024-9-1")


def test_vacuum_then_update_manifest_drops_expired_days(spark, tmp_path):
    """Maintenance composition: after a retention vacuum, one
    update_manifest pass drops exactly the expired days' file rows
    (vacuum removes whole partition DIRECTORIES — the listing-diff
    path, not the single-file path) and equals a full rebuild."""
    from jobhouse_spark.operators.maintenance import (
        build_manifest,
        update_manifest,
        vacuum_partitions,
    )

    root = str(tmp_path / "t")
    rows = [(i, f"2024-01-{1 + i % 4:02d}") for i in range(400)]
    spark.createDataFrame(rows, "id int, day string") \
        .repartition(2).write.partitionBy("day").parquet(root)
    m = build_manifest(spark, root, ["id"])
    m = spark.createDataFrame(m.collect(), m.schema)  # persist: metadata
    n_before = m.count()

    removed = vacuum_partitions(spark, root, "day", "2024-01-03")
    assert removed == ["2024-01-01", "2024-01-02"]

    updated = update_manifest(spark, root, m, ["id"])
    rebuilt = build_manifest(spark, root, ["id"])
    assert sorted(map(tuple, updated.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )
    assert updated.count() < n_before
    assert not [r for r in updated.collect()
                if "day=2024-01-01" in r.file or "day=2024-01-02" in r.file]


def test_zorder_refuses_over_wide_bit_config(spark, tmp_path):
    """bits*cols > 63 would wrap shiftleft into the sign bit and
    silently destroy the ordering while content checks stay green —
    must be a loud ValueError instead."""
    import pytest

    from jobhouse_spark.operators.maintenance import zorder_compact

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, i, i, i, i, i, i, i) for i in range(10)],
        "a int, b int, c int, d int, e int, f int, g int, h int",
    ).write.parquet(src)
    with pytest.raises(ValueError, match="63 usable long bits"):
        zorder_compact(
            spark, src, str(tmp_path / "dst"),
            cols=list("abcdefgh"), bins=256,
        )


def test_manifest_handles_partitioned_tables(spark, tmp_path):
    """base_path restores hive partition columns on the leaf-file
    reads: update == rebuild holds with a PARTITION column in the stat
    set, and a pruned read over it equals the plain filtered scan."""
    import pytest

    from jobhouse_spark.operators.maintenance import (
        build_manifest,
        manifest_pruned_read,
        update_manifest,
    )

    root = str(tmp_path / "t")
    rows = [(i, i % 5) for i in range(200)]
    spark.createDataFrame(rows, "id int, bucket int") \
        .write.partitionBy("bucket").parquet(root)
    m = build_manifest(spark, root, ["id", "bucket"])
    m = spark.createDataFrame(m.collect(), m.schema)

    # append a second batch; update must stat partition cols correctly
    spark.createDataFrame([(i, i % 5) for i in range(200, 300)],
                          "id int, bucket int") \
        .write.mode("append").partitionBy("bucket").parquet(root)
    updated = update_manifest(spark, root, m, ["id", "bucket"])
    rebuilt = build_manifest(spark, root, ["id", "bucket"])
    assert sorted(map(tuple, updated.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )

    got = sorted(
        map(tuple, manifest_pruned_read(
            spark, updated, {"bucket": (2, 3), "id": (50, 250)},
            base_path=root,
        ).select("id", "bucket").collect())
    )
    want = sorted((i, b) for i, b in
                  [(i, i % 5) for i in range(300)]
                  if 2 <= b <= 3 and 50 <= i <= 250)
    assert got == want

    # empty manifest: refused loudly, not an untyped frame downstream
    empty = updated.filter(F.lit(False))
    with pytest.raises(ValueError, match="empty manifest"):
        manifest_pruned_read(spark, empty, {"id": (0, 1)})


def test_manifest_pruned_read_glob_metachar_paths(spark, tmp_path):
    """Round-12 ADVICE fix, exercised: a hive partition VALUE carrying
    glob metacharacters ({ } [ ] *) lands verbatim in the file path,
    and the pruned read feeds those paths back into spark.read — which
    glob-interprets them. Without escaping, '[2]' matches the literal
    '2' (a DIFFERENT partition) and the pruned read silently returns
    the wrong partition's rows while the full scan is fine."""
    from jobhouse_spark.operators.maintenance import (
        build_manifest,
        manifest_pruned_read,
    )

    root = str(tmp_path / "t")
    tags = ["[2]", "2", "{a}", "*", "plain"]
    rows = [(i * len(tags) + j, v)
            for i in range(4) for j, v in enumerate(tags)]
    spark.createDataFrame(rows, "id long, tag string") \
        .write.partitionBy("tag").parquet(root)
    m = build_manifest(spark, root, ["id"])
    m = spark.createDataFrame(m.collect(), m.schema)
    full = spark.read.parquet(root)
    lo, hi = 0, 100
    pruned = manifest_pruned_read(spark, m, {"id": (lo, hi)}, base_path=root)
    assert sorted(map(tuple, pruned.select("id", "tag").collect())) == sorted(
        map(tuple, full.filter(F.col("id").between(lo, hi))
            .select("id", "tag").collect())
    )
