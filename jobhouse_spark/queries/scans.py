"""S-family: scans, sources, sinks (SURVEY §2.B).

Reference parity: the bronze layout written by S4 follows the reference's
raw-layer key scheme `{source}/{y}/{m}/{d}/{h}/...` (reference
src/storage/raw_layer.py:25-28) as hive partition columns, which buys
Catalyst partition pruning for free at 100 TB.

Round-trip queries (S2-S5) write to a per-call temp dir and re-read;
their oracles run the same aggregate over the *original* table, so a
lossy sink would fail the hash check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobhouse_spark.queries.registry import dec, dec_sql, fin, fin_sql, register
from jobhouse_spark.tables import Tables, scratch_dir

_NATION_AGG_ORACLE = (
    "SELECT COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key, "
    "MIN(n_name) AS min_name, MAX(n_name) AS max_name FROM nation"
)


def _nation_agg(df: DataFrame) -> DataFrame:
    return df.agg(
        F.count("*").alias("n"),
        F.sum("n_nationkey").alias("sum_key"),
        F.min("n_name").alias("min_name"),
        F.max("n_name").alias("max_name"),
    )


@register(
    "s1_parquet_scan",
    oracle=(
        "SELECT COUNT(*) AS n, "
        "CAST(SUM(l_orderkey % 1000003) AS BIGINT) AS sum_okey "
        "FROM lineitem"
    ),
    tags=("scan", "headline"),
)
def s1_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: columnar scan; COUNT/SUM push into a 2-column parquet read.

    The key checksum is MODULAR (key % 1000003, a prime): the naive
    SUM(l_orderkey) overflowed int64 at the 1000x rung — 600M rows of
    key-offset-replicated orderkeys (~1e11 each) sum past 9.2e18, and
    ANSI mode correctly refused to wrap (SCALE.md §1000x). The residue
    sum is bounded by 1e6 * COUNT, exact in both engines, and keeps
    the same scan-forcing, pushdown-visible shape."""
    l = Tables(spark, sf_dir).lineitem
    return l.agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_orderkey") % 1000003).alias("sum_okey"),
    )


@register("s2_jsonl_gz_roundtrip", oracle=_NATION_AGG_ORACLE, tags=("scan", "sink"))
def s2_jsonl_gz_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: gzip-JSONL sink + scan (bronze format, raw_layer.py:33-44 parity)."""
    n = Tables(spark, sf_dir).nation
    out = scratch_dir("s2")
    n.write.mode("overwrite").option("compression", "gzip").json(out)
    back = spark.read.schema(n.schema).json(out)
    return _nation_agg(back)


@register("s3_csv_roundtrip", oracle=_NATION_AGG_ORACLE, tags=("scan", "sink"))
def s3_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: CSV sink + schema-explicit scan (never inferSchema in prod)."""
    n = Tables(spark, sf_dir).nation
    out = scratch_dir("s3")
    n.write.mode("overwrite").option("header", "true").csv(out)
    back = spark.read.schema(n.schema).option("header", "true").csv(out)
    return _nation_agg(back)


@register(
    "s4_partitioned_write_roundtrip",
    oracle=(
        "SELECT COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id, "
        f"{fin_sql('SUM(' + dec_sql('value') + ')')} AS sum_value FROM events"
    ),
    tags=("scan", "sink"),
)
def s4_partitioned_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: hive-layout partitioned write (source/y/m/d layout, raw_layer.py:28).

    Partition columns are derived from event time exactly like the
    reference's key scheme; re-read must reproduce the source. At 100 TB
    this layout is what lets Catalyst prune to the scanned day/hour.
    """
    e = Tables(spark, sf_dir).events
    out = scratch_dir("s4")
    (
        e.withColumn("year", F.year("ts"))
        .withColumn("month", F.month("ts"))
        .withColumn("day", F.dayofmonth("ts"))
        .write.mode("overwrite")
        .partitionBy("year", "month", "day")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.agg(
        F.count("*").alias("n"),
        F.sum("event_id").alias("sum_id"),
        fin(F.sum(dec(F.col("value")))).alias("sum_value"),
    )


@register(
    "s5_parquet_sink_roundtrip",
    oracle=(
        "SELECT COUNT(*) AS n, "
        f"{fin_sql('SUM(' + dec_sql('l_extendedprice') + ')')} AS sum_price "
        "FROM lineitem"
    ),
    tags=("scan", "sink"),
)
def s5_parquet_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: parquet write/read round trip (zstd — the 100 TB default codec)."""
    l = Tables(spark, sf_dir).lineitem.select("l_orderkey", "l_extendedprice")
    out = scratch_dir("s5")
    l.write.mode("overwrite").option("compression", "zstd").parquet(out)
    back = spark.read.parquet(out)
    return back.agg(
        F.count("*").alias("n"),
        fin(F.sum(dec(F.col("l_extendedprice")))).alias("sum_price"),
    )


@register(
    "s10_bucketed_join",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n,
       {rev} AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
""".format(rev=fin_sql("SUM(" + dec_sql("o_totalprice") + ")")),
    tags=("scan", "sink", "bucketing", "join"),
)
def s10_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: bucketed tables + co-located join. Both sides are written
    bucketed (and sorted) on the join key with the same bucket count, so
    the subsequent sort-merge join reads matching buckets pairwise with
    NO shuffle exchange on either side — the plan shape is asserted in
    tests/test_operators_scale.py::test_bucketed_join_has_no_shuffle.
    This is the 100 TB answer for fact-to-fact joins repeated across a
    pipeline: pay the partitioning once at write time, never at read."""
    t = Tables(spark, sf_dir)
    base = scratch_dir("s10")
    spark.sql("DROP TABLE IF EXISTS jh_s10_orders")
    spark.sql("DROP TABLE IF EXISTS jh_s10_customer")
    (
        t.orders.write.mode("overwrite")
        .option("path", base + "/orders")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable("jh_s10_orders")
    )
    (
        t.customer.write.mode("overwrite")
        .option("path", base + "/customer")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable("jh_s10_customer")
    )
    o = spark.table("jh_s10_orders")
    c = spark.table("jh_s10_customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            fin(F.sum(dec(F.col("o_totalprice")))).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


@register("s6_jdbc_roundtrip", oracle=_NATION_AGG_ORACLE, tags=("scan", "sink", "jdbc"))
def s6_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: JDBC sink + source round trip — the reference's Postgres
    metadata store path (docker-compose.yml:231-246, commented COPY load
    dags/extract_raw_jobs.py:204-249). No database service runs in this
    container, so the check uses the embedded Derby engine that ships
    with Spark: same `spark.read/write.jdbc` code path, dialect and
    type-mapping machinery as a networked Postgres — only the URL
    differs. At scale, reads partition on a numeric column
    (partitionColumn/lowerBound/upperBound) so executors fetch ranges
    in parallel."""
    n = Tables(spark, sf_dir).nation
    db = scratch_dir("s6") + "/db"
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    n.write.mode("overwrite").jdbc(url, "nation", properties=props)
    back = spark.read.jdbc(
        url,
        "nation",
        column="n_nationkey",
        lowerBound=0,
        upperBound=25,
        numPartitions=4,
        properties=props,
    )
    return _nation_agg(back)


@register(
    "s8_values_literal",
    oracle="SELECT * FROM (VALUES (1,'a'),(2,'b'),(3,'c')) t(i, s) ORDER BY i",
    tags=("scan",),
)
def s8_values_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: in-memory literal relation."""
    return spark.sql("SELECT * FROM VALUES (1,'a'),(2,'b'),(3,'c') AS t(i, s) ORDER BY i")


@register("s11_xml_roundtrip", oracle=_NATION_AGG_ORACLE, tags=("scan", "sink"))
def s11_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: XML sink + schema-explicit scan (Spark 4 native XML source —
    no external package). Career-page/feed ingestion in the reference's
    declared multi-source design (docs/Pipeline Architecture.mermaid:3-7)
    is XML-shaped; round-trip must reproduce the source aggregate."""
    n = Tables(spark, sf_dir).nation
    out = scratch_dir("s11")
    n.write.mode("overwrite").option("rootTag", "nations").option(
        "rowTag", "nation"
    ).format("xml").save(out)
    back = (
        spark.read.schema(n.schema)
        .option("rowTag", "nation")
        .format("xml")
        .load(out)
    )
    return _nation_agg(back)


@register("s16_orc_roundtrip", oracle=_NATION_AGG_ORACLE, tags=("scan", "sink"))
def s16_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16: ORC sink + scan (Spark-native columnar alternative to
    parquet — the other format a migrating lake commonly holds; Avro's
    external module is absent from this container, ORC ships in-box).
    Round-trip must reproduce the source aggregate; ORC gets the same
    predicate-pushdown/column-pruning treatment as parquet from the
    same v2 scan framework."""
    n = Tables(spark, sf_dir).nation
    out = scratch_dir("s16")
    n.write.mode("overwrite").format("orc").save(out)
    back = spark.read.format("orc").load(out)
    return _nation_agg(back)


@register("s12_text_scan", oracle=_NATION_AGG_ORACLE, tags=("scan",))
def s12_text_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12: raw line-oriented text scan + in-engine parse — the
    schema-on-read fallback for feeds that no structured reader accepts
    (one record per line, parsed with F-family string ops, the
    raw_content philosophy of the reference's bronze layer)."""
    n = Tables(spark, sf_dir).nation
    out = scratch_dir("s12")
    n.select(
        F.concat_ws(
            "\x1f",
            F.col("n_nationkey").cast("string"),
            "n_name",
            F.col("n_regionkey").cast("string"),
        ).alias("value")
    ).write.mode("overwrite").text(out)
    lines = spark.read.text(out)
    parts = F.split(F.col("value"), "\x1f")
    back = lines.select(
        F.element_at(parts, 1).cast("long").alias("n_nationkey"),
        F.element_at(parts, 2).alias("n_name"),
        F.element_at(parts, 3).cast("long").alias("n_regionkey"),
    )
    return _nation_agg(back)


@register("s13_catalog_table", oracle=_NATION_AGG_ORACLE, tags=("scan", "catalog"))
def s13_catalog_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13: managed catalog table — saveAsTable into the session
    warehouse, read back via the catalog (`spark.table`). The catalog
    registration path is what a multi-team 100 TB deployment uses
    instead of raw paths (central schema, stats, grants)."""
    import shutil  # noqa: PLC0415
    from urllib.parse import urlparse  # noqa: PLC0415

    n = Tables(spark, sf_dir).nation
    # idempotent re-run: a fresh session may inherit a stale warehouse
    # dir without the catalog entry, which saveAsTable refuses to reuse
    spark.sql("DROP TABLE IF EXISTS jh_s13_nation")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/jh_s13_nation", ignore_errors=True)
    n.write.mode("overwrite").saveAsTable("jh_s13_nation")
    return _nation_agg(spark.table("jh_s13_nation"))


@register(
    "s14_corrupt_quarantine",
    oracle="""
SELECT CAST(COUNT(*) FILTER (WHERE i % 7 <> 0) AS BIGINT) AS n_good,
       CAST(COUNT(*) FILTER (WHERE i % 7 = 0) AS BIGINT) AS n_bad,
       CAST(MIN(CASE WHEN i % 7 <> 0 THEN i END) AS BIGINT) AS min_good,
       CAST(MAX(CASE WHEN i % 7 <> 0 THEN i END) AS BIGINT) AS max_good,
       CAST(SUM(CASE WHEN i % 7 <> 0 THEN i END) AS BIGINT) AS sum_good
FROM (SELECT unnest(range(200)) AS i)
""",
    tags=("scan", "quarantine"),
)
def s14_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14: bad-record quarantine — a PERMISSIVE JSONL scan that splits
    parseable envelopes from corrupt lines (sources/bronze.py
    quarantine_corrupt) instead of failing the job or silently dropping
    rows. The corpus plants one corrupt line per 7 (a deterministic
    generation rule the oracle recomputes from `range`, so the check
    verifies exactly which rows survived). At 100 TB this is the scan
    posture for any external feed: corrupt rows land in a quarantine
    sink with full payload for replay, good rows flow on."""
    import json as _json  # noqa: PLC0415
    import os as _os  # noqa: PLC0415

    from jobhouse_spark.queries.ingestion_queries import _session_bronze_root  # noqa: PLC0415
    from jobhouse_spark.sources.bronze import quarantine_corrupt  # noqa: PLC0415

    def build(root: str) -> None:
        lines = []
        for i in range(200):
            if i % 7 == 0:
                lines.append('{"posting_id": broken json %d' % i)
            else:
                lines.append(
                    _json.dumps(
                        {
                            "posting_id": str(i),
                            "raw_content": "{}",
                            "metadata": {"search_text": "parity"},
                            "source": "HH",
                            "extracted_at": "2024-03-01T12:00:00",
                        }
                    )
                )
        with open(_os.path.join(root, "batch.jsonl"), "w") as f:
            f.write("\n".join(lines) + "\n")

    root = _session_bronze_root("quarantine", sf_dir, build)
    good, bad = quarantine_corrupt(spark, root)
    gid = F.col("posting_id").cast("long")
    good_agg = good.agg(
        F.count("*").alias("n_good"),
        F.min(gid).alias("min_good"),
        F.max(gid).alias("max_good"),
        F.sum(gid).alias("sum_good"),
    )
    return good_agg.crossJoin(bad.agg(F.count("*").alias("n_bad"))).select(
        "n_good", "n_bad", "min_good", "max_good", "sum_good"
    )


@register(
    "s15_schema_evolution",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(i * 2) AS BIGINT) AS sum_val,
       CAST(COUNT(CASE WHEN i >= 100 THEN 1 END) AS BIGINT) AS n_extra,
       CAST(SUM(CASE WHEN i >= 100 THEN i % 3 END) AS BIGINT) AS sum_extra
FROM (SELECT unnest(range(200)) AS i)
""",
    tags=("scan", "schema"),
)
def s15_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15: schema-evolution read — two parquet batches with different
    schemas (the second adds an `extra` column) land in one directory;
    a mergeSchema scan unifies them, null-filling the old batch. This is
    the contract a years-old 100 TB lake depends on: producers add
    columns without rewriting history, readers see one schema. The
    oracle recomputes every aggregate from the generation rule, so a
    dropped batch, a mis-merged column, or wrong null-filling all flip
    the hash."""
    from jobhouse_spark.queries.ingestion_queries import _session_bronze_root  # noqa: PLC0415

    def build(root: str) -> None:
        b1 = spark.range(100).select(
            F.col("id"), (F.col("id") * 2).alias("val")
        )
        b1.write.mode("append").parquet(root)
        b2 = spark.range(100, 200).select(
            F.col("id"),
            (F.col("id") * 2).alias("val"),
            (F.col("id") % 3).alias("extra"),
        )
        b2.write.mode("append").parquet(root)

    root = _session_bronze_root("schema_evo", sf_dir, build)
    merged = spark.read.option("mergeSchema", "true").parquet(root)
    return merged.agg(
        F.count("*").alias("n"),
        F.sum("val").alias("sum_val"),
        F.count("extra").alias("n_extra"),
        F.sum("extra").alias("sum_extra"),
    )


# ---------------------------------------------------------------------------
# S17: compaction invariance (round 11) — table maintenance, oracle-checked
# ---------------------------------------------------------------------------

# Row-content digest both engines compute bit-identically: md5-derived
# int32 (functions/hashing.MD5_INT32_SQL discipline) over a canonical
# ':'-joined row string of the integer/string/date columns; doubles are
# checked separately through the dec(…,2) sum so no float formatting
# ever enters a hash input.
_S17_ROW_SQL = (
    "CAST(o_orderkey AS VARCHAR) || ':' || CAST(o_custkey AS VARCHAR) || ':' "
    "|| o_orderstatus || ':' || o_orderpriority || ':' "
    "|| CAST(CAST(o_orderdate AS DATE) AS VARCHAR)"
)


def _s17_oracle() -> str:
    from jobhouse_spark.functions.hashing import MD5_INT32_SQL  # noqa: PLC0415

    digest = MD5_INT32_SQL.format(x=f"({_S17_ROW_SQL})")
    return f"""
SELECT o_orderkey % 16 AS bucket,
       COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
       {fin_sql("SUM(CAST(o_totalprice AS DECIMAL(18,2)))", 2)} AS sum_price,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
       CAST(SUM({digest}) AS BIGINT) AS content_digest
FROM orders GROUP BY 1 ORDER BY 1
"""


@register(
    "s17_compaction_invariance",
    oracle=_s17_oracle(),
    tags=("scan", "sink", "maintenance"),
)
def s17_compaction_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17: small-file compaction + range-clustering is CONTENT-
    INVARIANT — the maintenance operator the reference's per-batch
    bronze objects (src/storage/raw_layer.py:30-53) make necessary at
    100 TB, promoted from unit-only to oracle-checked.

    Shape: fragment orders into 64 unsorted small files (the drip-feed
    layout), compact with `compact_parquet(sort_by=o_orderkey)`
    (operators/maintenance.py — repartitionByRange + sortWithinPartitions
    so every output file covers a disjoint key range), then aggregate
    per-hash-bucket counts, key sums, decimal price sums and an
    md5-int32 row-content digest FROM THE COMPACTED COPY. The DuckDB
    oracle computes the identical digests from the ORIGINAL table it
    alone reads — any row lost, duplicated, or mutated anywhere in the
    fragment->compact->cluster->rewrite chain flips the hash.

    The pruning payoff (files/row-groups skipped by min-max stats for
    a selective key predicate, before vs after) is recorded in SCALE.md,
    "Compaction + range-clustering, oracle-checked and measured"."""
    from jobhouse_spark.functions.hashing import md5_int32  # noqa: PLC0415
    from jobhouse_spark.operators.maintenance import compact_parquet  # noqa: PLC0415

    base = scratch_dir("s17")
    frag, dst = base + "/frag", base + "/compacted"
    Tables(spark, sf_dir).orders.repartition(64).write.parquet(frag)
    comp = compact_parquet(
        spark, frag, dst, target_file_bytes=8 * 1024 * 1024, sort_by="o_orderkey"
    )
    row_str = F.concat_ws(
        ":",
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        F.col("o_orderdate").cast("date").cast("string"),
    )
    return (
        comp.groupBy((F.col("o_orderkey") % 16).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("sum_key"),
            F.countDistinct("o_custkey").alias("n_cust"),
            fin(F.sum(dec(F.col("o_totalprice"), 2)), 2).alias("sum_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            F.sum(md5_int32(row_str)).alias("content_digest"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# S18: Z-order clustering invariance (round 11) — multi-column layout
# ---------------------------------------------------------------------------

# Same digest discipline as S17, but grouped on the SECOND z-order
# dimension (o_custkey) so the check exercises rows that the Morton
# shuffle scattered across every output file.
_S18_ROW_SQL = (
    "CAST(o_orderkey AS VARCHAR) || ':' || CAST(o_custkey AS VARCHAR) || ':' "
    "|| o_orderstatus || ':' || o_orderpriority"
)


def _s18_oracle() -> str:
    from jobhouse_spark.functions.hashing import MD5_INT32_SQL  # noqa: PLC0415

    digest = MD5_INT32_SQL.format(x=f"({_S18_ROW_SQL})")
    return f"""
SELECT o_custkey % 13 AS bucket,
       COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
       {fin_sql("SUM(CAST(o_totalprice AS DECIMAL(18,2)))", 2)} AS sum_price,
       CAST(SUM({digest}) AS BIGINT) AS content_digest
FROM orders GROUP BY 1 ORDER BY 1
"""


@register(
    "s18_zorder_invariance",
    oracle=_s18_oracle(),
    tags=("scan", "sink", "maintenance"),
)
def s18_zorder_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S18: Z-ORDER clustering is CONTENT-INVARIANT — the multi-column
    companion to s17's single-key range clustering.

    Shape: fragment orders into 64 unsorted files, rewrite with
    `zorder_compact(cols=[o_custkey, o_orderkey])` (equi-depth bin ids
    bit-interleaved into a Morton value; operators/maintenance.py),
    then aggregate per-custkey-bucket counts, key/cust sums, decimal
    price sums and the md5-int32 row digest FROM THE Z-ORDERED COPY.
    The oracle computes the identical digests from the ORIGINAL table —
    any row lost, duplicated, or mutated by the quantile pass, the bin
    HOF, the bit interleave, or the range shuffle flips the hash.

    Why this operator exists at 100 TB: a lexicographic (a, b) sort
    prunes predicates on ``a`` perfectly and on ``b`` not at all;
    Morton interleaving gives every file a hyper-rectangle of the key
    space so min/max stats prune BOTH single-column predicates
    (SCALE.md, "Z-order clustering: multi-column pruning")."""
    from jobhouse_spark.functions.hashing import md5_int32  # noqa: PLC0415
    from jobhouse_spark.operators.maintenance import zorder_compact  # noqa: PLC0415

    base = scratch_dir("s18")
    frag, dst = base + "/frag", base + "/zordered"
    Tables(spark, sf_dir).orders.repartition(64).write.parquet(frag)
    z = zorder_compact(
        spark, frag, dst,
        cols=["o_custkey", "o_orderkey"],
        target_file_bytes=4 * 1024 * 1024, bins=64,
    )
    row_str = F.concat_ws(
        ":", "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    return (
        z.groupBy((F.col("o_custkey") % 13).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("sum_key"),
            F.sum("o_custkey").alias("sum_cust"),
            fin(F.sum(dec(F.col("o_totalprice"), 2)), 2).alias("sum_price"),
            F.sum(md5_int32(row_str)).alias("content_digest"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# S19: manifest-pruned scan (round 11) — file-level data skipping
# ---------------------------------------------------------------------------

_S19_LO, _S19_HI = 500, 3000  # inside the orderkey range at every sf


def _s19_oracle() -> str:
    from jobhouse_spark.functions.hashing import MD5_INT32_SQL  # noqa: PLC0415

    digest = MD5_INT32_SQL.format(x=f"({_S17_ROW_SQL})")
    return f"""
SELECT COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
       {fin_sql("SUM(CAST(o_totalprice AS DECIMAL(18,2)))", 2)} AS sum_price,
       CAST(SUM({digest}) AS BIGINT) AS content_digest
FROM orders WHERE o_orderkey BETWEEN {_S19_LO} AND {_S19_HI}
"""


@register(
    "s19_manifest_pruned_scan",
    oracle=_s19_oracle(),
    tags=("scan", "maintenance", "metadata"),
)
def s19_manifest_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S19: FILE-LEVEL data skipping through a min/max manifest — the
    metadata layer a table format keeps, built and used on plain
    parquet (operators/maintenance.build_manifest /
    manifest_pruned_read), answering a selective range query while
    READING ONLY THE FILES whose stats admit it.

    Shape: fragment orders, compact+range-cluster (so files have
    disjoint key spans), build the per-file manifest with one grouped
    scan, then plan a `BETWEEN` query from the manifest: collect the
    candidate file list (bounded by FILE COUNT — what any format's
    planner holds), read only those paths, re-apply the exact
    predicate. The oracle runs the same BETWEEN on the ORIGINAL table —
    a manifest bound that was wrong in either direction (false skip =
    lost rows, stale bound = duplicated/mutated rows) flips the count,
    sums, or the md5-int32 digest.

    Why at 100 TB: row-group pruning happens after listing, task
    scheduling and footer reads of every file; manifest pruning
    happens before — on a drip-fed bronze prefix with 10^6 files
    that is the difference between planning from kilobytes of
    metadata and opening a million footers.
    tests/test_operators_scale.py asserts the skip actually happens
    (candidate files << files on disk)."""
    from jobhouse_spark.functions.hashing import md5_int32  # noqa: PLC0415
    from jobhouse_spark.operators.maintenance import (  # noqa: PLC0415
        build_manifest,
        compact_parquet,
        manifest_pruned_read,
    )

    base = scratch_dir("s19")
    frag, dst = base + "/frag", base + "/clustered"
    Tables(spark, sf_dir).orders.repartition(32).write.parquet(frag)
    compact_parquet(
        spark, frag, dst, target_file_bytes=512 * 1024, sort_by="o_orderkey"
    )
    manifest = build_manifest(spark, dst, ["o_orderkey"])
    pruned = manifest_pruned_read(
        spark, manifest, {"o_orderkey": (_S19_LO, _S19_HI)}
    )
    row_str = F.concat_ws(
        ":",
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        F.col("o_orderdate").cast("date").cast("string"),
    )
    return pruned.agg(
        F.count("*").alias("n"),
        F.sum("o_orderkey").alias("sum_key"),
        F.countDistinct("o_custkey").alias("n_cust"),
        fin(F.sum(dec(F.col("o_totalprice"), 2)), 2).alias("sum_price"),
        F.sum(md5_int32(row_str)).alias("content_digest"),
    )


# ---------------------------------------------------------------------------
# S20: retention vacuum (round 11) — TTL deletion at partition grain
# ---------------------------------------------------------------------------

_S20_CUTOFF = "2024-01-15"  # events span 2024-01-01..01-30 at every sf
_S20_ROW_SQL = (
    "CAST(event_id AS VARCHAR) || ':' || CAST(user_id AS VARCHAR) || ':' "
    "|| CAST(CAST(ts AS DATE) AS VARCHAR)"
)


def _s20_oracle() -> str:
    from jobhouse_spark.functions.hashing import MD5_INT32_SQL  # noqa: PLC0415

    digest = MD5_INT32_SQL.format(x=f"({_S20_ROW_SQL})")
    return f"""
SELECT COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_id,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(MIN(CAST(ts AS DATE)) AS VARCHAR) AS min_day,
       {fin_sql("SUM(" + dec_sql("value") + ")")} AS sum_value,
       CAST(SUM({digest}) AS BIGINT) AS content_digest
FROM events WHERE CAST(ts AS DATE) >= DATE '{_S20_CUTOFF}'
"""


@register(
    "s20_retention_vacuum",
    oracle=_s20_oracle(),
    tags=("scan", "sink", "maintenance"),
)
def s20_retention_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S20: retention/TTL vacuum is EXACT at partition grain — the
    third maintenance operator (after compaction s17/s18 and the
    manifest s19): delete every day partition older than the retention
    cutoff, touching only directory metadata, never reading data.

    Shape: write events day-partitioned (the reference raw-layer date
    layout, raw_layer.py:28), `vacuum_partitions(cutoff)` (operators/
    maintenance.py), then aggregate the SURVIVING table — counts, key
    sums, decimal value sums and an md5-int32 row digest. The oracle
    computes the identical aggregate from the ORIGINAL table filtered
    by the same cutoff: a partition wrongly deleted (data loss past
    the boundary) or wrongly retained (TTL violation) flips the count
    and the digest; the boundary day itself (>= cutoff survives) is
    pinned by min_day."""
    from jobhouse_spark.functions.hashing import md5_int32  # noqa: PLC0415
    from jobhouse_spark.operators.maintenance import vacuum_partitions  # noqa: PLC0415

    root = scratch_dir("s20") + "/t"
    e = Tables(spark, sf_dir).events.withColumn(
        "day", F.to_date("ts").cast("string")
    )
    e.write.partitionBy("day").parquet(root)
    removed = vacuum_partitions(spark, root, "day", _S20_CUTOFF)
    # explicit raise, not assert: under `python -O` an assert is
    # stripped and a vacuum regression would pass silently to the
    # digest stage
    if not removed or any(d >= _S20_CUTOFF for d in removed):
        raise RuntimeError(
            f"s20: vacuum removed unexpected partitions {removed!r} "
            f"for cutoff {_S20_CUTOFF}"
        )
    back = spark.read.parquet(root)
    row_str = F.concat_ws(
        ":", "event_id", "user_id", F.to_date("ts").cast("string")
    )
    return back.agg(
        F.count("*").alias("n"),
        F.sum("event_id").alias("sum_id"),
        F.countDistinct("user_id").alias("n_users"),
        F.min(F.to_date("ts")).cast("string").alias("min_day"),
        fin(F.sum(dec(F.col("value")))).alias("sum_value"),
        F.sum(md5_int32(row_str)).alias("content_digest"),
    )
