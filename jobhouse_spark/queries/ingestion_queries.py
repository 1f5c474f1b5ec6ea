"""A-family registry entries: ingestion/bronze semantics as queries
(reference A5/A8/A15/A16 — the parts of the reference that actually run).

The bronze round-trip and dedup/CDC checks are expressed over the
driver's tables so the oracle can verify them; the HH-replay pipeline
(fixture → envelope → bronze → silver) is exercised in tests/test_bronze.py.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobhouse_spark.functions.hashing import MD5_INT32_SQL, md5_int32
from jobhouse_spark.operators.dedup import dedup_anti_join
from jobhouse_spark.queries.registry import register
from jobhouse_spark.sources.bronze import (
    envelope_projection,
    read_bronze,
    read_bronze_day_slice,
    write_bronze_partitioned,
)
from jobhouse_spark.tables import Tables, scratch_dir

# One bronze lake per (query, sf_dir) per session: the partitioned writer
# appends, so re-invoking a query (bench repeats, driver retries) must NOT
# re-write into the same root — build once and reuse the dir
# (``scratch_dir`` removes it at exit).
_BRONZE_ROOTS: dict[tuple[str, str], str] = {}


def _session_bronze_root(tag: str, sf_dir: str, build: Callable[[str], None]) -> str:
    key = (tag, sf_dir)
    if key not in _BRONZE_ROOTS:
        root = scratch_dir(tag)
        build(root)
        _BRONZE_ROOTS[key] = root
    return _BRONZE_ROOTS[key]


@register(
    "a8_bronze_roundtrip",
    oracle=(
        "SELECT COUNT(*) AS n, COUNT(DISTINCT posting_id) AS n_ids, "
        "MIN(posting_id) AS min_id, MAX(posting_id) AS max_id FROM ("
        "  SELECT CAST(n_nationkey AS VARCHAR) AS posting_id FROM nation)"
    ),
    tags=("ingestion", "sink"),
)
def a8_bronze_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/A5: envelope-project nation rows as postings, write through the
    partitioned bronze sink, re-read with the fixed envelope schema."""
    n = Tables(spark, sf_dir).nation.withColumnRenamed("n_nationkey", "id")
    postings = envelope_projection(
        n, search_text="parity", source="HH",
        extracted_at=datetime(2024, 3, 1, 12, 0, 0, tzinfo=timezone.utc),
    )
    root = _session_bronze_root(
        "bronze", sf_dir, lambda r: write_bronze_partitioned(postings, r)
    )
    back = read_bronze(spark, root)
    return back.agg(
        F.count("*").alias("n"),
        F.countDistinct("posting_id").alias("n_ids"),
        F.min("posting_id").alias("min_id"),
        F.max("posting_id").alias("max_id"),
    )


@register(
    "a8b_bronze_hive_pruned",
    oracle=(
        "SELECT COUNT(*) AS n, MIN(n_nationkey) AS min_id, MAX(n_nationkey) AS max_id "
        "FROM nation WHERE n_nationkey % 3 = 1"
    ),
    tags=("ingestion", "scan", "pruning"),
)
def a8b_bronze_hive_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 at scale: write bronze across three hive day-partitions, then
    read back ONE day through a partition-column filter.

    The `day = '02'` predicate is a partition filter (directory-level
    pruning, no data read from the other days) — the 100 TB contract for
    the bronze lake: a one-day slice touches 1/N of the files.
    tools/explain_audit.py asserts the scan's PartitionFilters carry it.
    """
    n = Tables(spark, sf_dir).nation.withColumnRenamed("n_nationkey", "id")
    postings = envelope_projection(
        n, search_text="parity", source="HH",
        extracted_at=datetime(2024, 3, 1, 12, 0, 0, tzinfo=timezone.utc),
    )
    # spread rows over day 01..03 by id so each hive partition is non-empty
    day = (F.col("posting_id").cast("int") % 3 + 1).cast("string")
    postings = postings.withColumn(
        "extracted_at",
        F.to_timestamp(F.concat(F.lit("2024-03-0"), day, F.lit(" 12:00:00"))),
    )
    root = _session_bronze_root(
        "bronze_hive", sf_dir, lambda r: write_bronze_partitioned(postings, r)
    )
    sliced = read_bronze_day_slice(spark, root, day="02")
    return sliced.agg(
        F.count("*").alias("n"),
        F.min(F.col("posting_id").cast("int")).alias("min_id"),
        F.max(F.col("posting_id").cast("int")).alias("max_id"),
    )


@register(
    "a15_dedup_check",
    oracle=(
        "SELECT COUNT(*) AS n_new FROM events "
        "WHERE user_id < 50 AND event_id NOT IN ("
        "  SELECT event_id FROM events WHERE user_id < 20)"
    ),
    tags=("ingestion", "dedup"),
)
def a15_dedup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15: metadata-store dedup feedback — left-anti join of incoming
    ids against already-ingested ids (Pipeline Architecture.mermaid:33)."""
    e = Tables(spark, sf_dir).events
    incoming = e.filter(F.col("user_id") < 50)
    already_ingested = e.filter(F.col("user_id") < 20).select("event_id")
    new = dedup_anti_join(incoming, already_ingested, "event_id")
    return new.agg(F.count("*").alias("n_new"))


@register(
    "a16_change_detection",
    oracle="""
WITH old AS (
  SELECT event_id, md5(concat_ws('|', event_type, CAST(user_id AS VARCHAR))) AS h
  FROM events WHERE event_id < 6000),
new AS (
  SELECT event_id, md5(concat_ws('|',
           CASE WHEN event_id % 10 = 0 THEN 'mutated' ELSE event_type END,
           CAST(user_id AS VARCHAR))) AS h
  FROM events WHERE event_id >= 2000 AND event_id < 8000)
SELECT
  CASE WHEN o.event_id IS NULL THEN 'inserted'
       WHEN n.event_id IS NULL THEN 'deleted'
       WHEN o.h <> n.h THEN 'changed' ELSE 'unchanged' END AS status,
  COUNT(*) AS n
FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id
GROUP BY 1 ORDER BY 1
""",
    tags=("ingestion", "cdc"),
)
def a16_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16: CDC between two bronze snapshots — full outer join on the
    key + content-hash compare (Pipeline Architecture.mermaid:17-22).
    The 'new' snapshot mutates every 10th row to exercise 'changed'."""
    e = Tables(spark, sf_dir).events
    old = e.filter(F.col("event_id") < 6000).select(
        "event_id",
        F.md5(F.concat_ws("|", "event_type", F.col("user_id").cast("string"))).alias("h"),
    )
    new = e.filter((F.col("event_id") >= 2000) & (F.col("event_id") < 8000)).select(
        "event_id",
        F.md5(
            F.concat_ws(
                "|",
                F.when(F.col("event_id") % 10 == 0, "mutated").otherwise(
                    F.col("event_type")
                ),
                F.col("user_id").cast("string"),
            )
        ).alias("h"),
    )
    o, n = old.alias("o"), new.alias("n")
    joined = o.join(n, F.col("o.event_id") == F.col("n.event_id"), "full_outer")
    status = (
        F.when(F.col("o.event_id").isNull(), "inserted")
        .when(F.col("n.event_id").isNull(), "deleted")
        .when(F.col("o.h") != F.col("n.h"), "changed")
        .otherwise("unchanged")
    )
    return (
        joined.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").alias("n"))
        .orderBy("status")
    )


# md5-derived 32-bit int of a row's content — the cross-engine row hash
# (functions/hashing: Spark md5_int32 ≡ DuckDB MD5_INT32_SQL)
_ROW_H_SQL = MD5_INT32_SQL.format(x="concat_ws('|', event_id, event_type, user_id)")


_A16C_ORACLE = f"""
WITH old AS (
  SELECT event_id, event_type, user_id FROM events WHERE event_id < 6000),
new AS (
  SELECT event_id,
         CASE WHEN event_id % 10 = 0 THEN 'mutated' ELSE event_type END AS event_type,
         user_id
  FROM events WHERE event_id >= 2000 AND event_id < 8000),
j AS (
  SELECT o.event_id AS o_id, o.event_type AS o_type, o.user_id AS o_uid,
         n.event_id AS n_id, n.event_type AS n_type, n.user_id AS n_uid,
         -- IS NOT DISTINCT FROM = Spark's eqNullSafe: NULL attrs compare
         -- equal instead of poisoning `same` to NULL (which would close
         -- AND skip the version — a different rule than scd2_apply's)
         ((o.event_type IS NOT DISTINCT FROM n.event_type)
          AND (o.user_id IS NOT DISTINCT FROM n.user_id)) AS same
  FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id),
hist AS (
  -- old rows: kept open when unchanged, closed on change/delete
  SELECT o_id AS event_id, o_type AS event_type, o_uid AS user_id,
         DATE '2024-02-01' AS valid_from,
         CASE WHEN n_id IS NOT NULL AND same THEN NULL
              ELSE DATE '2024-02-02' END AS valid_to
  FROM j WHERE o_id IS NOT NULL
  UNION ALL
  -- new versions: opened on change/insert
  SELECT n_id, n_type, n_uid, DATE '2024-02-02', NULL
  FROM j WHERE n_id IS NOT NULL AND (o_id IS NULL OR NOT same))
SELECT CAST(valid_from AS VARCHAR) AS valid_from,
       (valid_to IS NULL) AS is_current,
       COUNT(*) AS n, CAST(SUM({_ROW_H_SQL}) AS BIGINT) AS sum_h
FROM hist GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("a16c_scd2_history", oracle=_A16C_ORACLE, tags=("ingestion", "cdc"))
def a16c_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16c: the CDC diff kept as TYPE-2 HISTORY — every key version
    survives with a [valid_from, valid_to) interval
    (operators/scd.py). Change/insert opens a version dated the batch
    day, change/delete closes the prior one, unchanged rows pass
    untouched. Verified against a from-scratch SQL derivation of the
    same versioning rules."""
    from jobhouse_spark.operators.scd import scd2_apply, scd2_open  # noqa: PLC0415

    e = Tables(spark, sf_dir).events
    old = e.filter(F.col("event_id") < 6000).select("event_id", "event_type", "user_id")
    batch = e.filter((F.col("event_id") >= 2000) & (F.col("event_id") < 8000)).select(
        "event_id",
        F.when(F.col("event_id") % 10 == 0, "mutated")
        .otherwise(F.col("event_type"))
        .alias("event_type"),
        "user_id",
    )
    hist = scd2_apply(
        scd2_open(old, "2024-02-01"),
        batch,
        "event_id",
        ["event_type", "user_id"],
        "2024-02-02",
    )
    row_h = md5_int32(F.concat_ws("|", "event_id", "event_type", "user_id"))
    return (
        hist.groupBy(
            F.col("valid_from").cast("string").alias("valid_from"),
            F.col("valid_to").isNull().alias("is_current"),
        )
        .agg(F.count("*").alias("n"), F.sum(row_h).cast("long").alias("sum_h"))
        .orderBy("valid_from", "is_current")
    )



@register(
    "a16b_incremental_merge",
    oracle=f"""
WITH old AS (
  SELECT event_id, CAST(ts AS DATE) AS day, event_type, user_id
  FROM events WHERE event_id < 6000),
ups AS (
  SELECT event_id, CAST(ts AS DATE) AS day,
         CASE WHEN event_id % 10 = 0 THEN 'mutated' ELSE event_type END AS event_type,
         user_id
  FROM events
  WHERE event_id < 8000
    AND CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-09'),
del AS (
  SELECT event_id FROM old
  WHERE day BETWEEN DATE '2024-01-05' AND DATE '2024-01-09'
    AND event_id % 17 = 0),
merged AS (
  SELECT * FROM old
  WHERE day NOT BETWEEN DATE '2024-01-05' AND DATE '2024-01-09'
  UNION ALL
  SELECT o.* FROM old o
  WHERE o.day BETWEEN DATE '2024-01-05' AND DATE '2024-01-09'
    AND o.event_id NOT IN (SELECT event_id FROM ups)
    AND o.event_id NOT IN (SELECT event_id FROM del)
  UNION ALL
  SELECT u.* FROM ups u WHERE u.event_id NOT IN (SELECT event_id FROM del))
SELECT CAST(day AS VARCHAR) AS day, COUNT(*) AS n,
       CAST(SUM({_ROW_H_SQL}) AS BIGINT) AS sum_h
FROM merged GROUP BY 1 ORDER BY 1
""",
    tags=("ingestion", "cdc"),
)
def a16b_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16b: the CDC diff APPLIED incrementally — partition-pruned
    upsert/delete merge of a 5-day change batch into a day-partitioned
    silver table (operators/incremental.py), verified against the
    full-rebuild end state computed by the oracle. Only the 5 changed
    day partitions are read and rewritten (dynamic partition
    overwrite); the other 25 days' files are untouched — asserted by
    mtime in tests/test_incremental.py. This is the 100 TB answer to
    A16's full-outer rebuild."""
    from jobhouse_spark.operators.incremental import incremental_merge  # noqa: PLC0415

    e = Tables(spark, sf_dir).events
    base = e.select(
        "event_id", F.to_date("ts").alias("day"), "event_type", "user_id"
    )
    old = base.filter(F.col("event_id") < 6000)
    win = F.col("day").between(F.lit("2024-01-05"), F.lit("2024-01-09"))
    ups = (
        base.filter(win & (F.col("event_id") < 8000))
        .withColumn(
            "event_type",
            F.when(F.col("event_id") % 10 == 0, "mutated").otherwise(
                F.col("event_type")
            ),
        )
    )
    dels = old.filter(win & (F.col("event_id") % 17 == 0)).select("event_id", "day")

    root = _session_bronze_root("a16b_silver", sf_dir, lambda r: None)
    # deterministic per call: reset silver to the pre-merge snapshot,
    # then apply the batch (the merge itself is idempotent; the reset
    # makes repeated driver/bench invocations exact re-runs)
    old.write.mode("overwrite").partitionBy("day").parquet(root)
    incremental_merge(spark, root, ups, dels, key_col="event_id", day_col="day")

    merged = spark.read.parquet(root)
    row_h = md5_int32(F.concat_ws("|", "event_id", "event_type", "user_id"))
    return (
        merged.groupBy(F.col("day").cast("string").alias("day"))
        .agg(F.count("*").alias("n"), F.sum(row_h).cast("long").alias("sum_h"))
        .orderBy("day")
    )
