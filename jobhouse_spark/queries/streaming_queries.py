"""T-family registry entries: streaming verified by batch equivalence
(SURVEY §2.B streaming preamble). Each fn runs a real Structured
Streaming query to completion (memory sink) and returns the result as a
batch DataFrame the oracle can hash."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobhouse_spark.queries.registry import dec_sql, fin_sql, register
from jobhouse_spark.streaming.jobs import (
    dedup_stream,
    enrich_with_static,
    run_to_memory,
    session_counts,
    sliding_counts,
    pinned_shuffle,
    stream_events,
    stream_stream_join,
    stream_stream_left_join,
    tumbling_counts,
)


@register(
    "t1_stream_source",
    oracle=(
        "SELECT COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id, "
        "MIN(ts) AS min_ts, MAX(ts) AS max_ts, "
        "CAST(SUM(CAST(floor(epoch(ts)) AS BIGINT) % 86400) AS BIGINT) AS sum_secs "
        "FROM events"
    ),
    tags=("streaming",),
)
def t1_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: file-stream source passthrough — stream rows equal batch rows
    INCLUDING the event-time column (min/max plus a seconds-of-day sum
    over every row, so a unit-scale misread of `ts` — the round-3
    regression class — fails the hash, not just the window queries).
    Only key + ts flow into the memory sink (the sink holds rows in
    driver memory; never sink full-width streams)."""
    sunk = run_to_memory(
        stream_events(spark, sf_dir).select("event_id", "ts"), mode="append"
    )
    return sunk.agg(
        F.count("*").alias("n"),
        F.sum("event_id").alias("sum_id"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.sum(F.unix_timestamp("ts") % 86400).alias("sum_secs"),
    )


@register(
    "t2_tumbling_window",
    oracle=(
        "SELECT date_trunc('hour', ts) AS w, event_type, COUNT(*) AS n, "
        + fin_sql("SUM(" + dec_sql("value") + ")")
        + " AS sum_value FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    ),
    tags=("streaming", "headline"),
)
def t2_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: tumbling 1h windowed aggregation, complete output mode. The
    (window × event_type) keyspace is small, so the stateful shuffle is
    pinned narrow (see pinned_shuffle)."""
    agg = tumbling_counts(stream_events(spark, sf_dir))
    with pinned_shuffle(spark, 8):
        sunk = run_to_memory(agg, mode="complete")
    return sunk.orderBy("w", "event_type")


@register(
    "t3_sliding_window",
    oracle="""
SELECT time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes' AS w,
       event_type, COUNT(*) AS n
FROM events, UNNEST([0, 1, 2, 3]) AS t(k)
GROUP BY 1, 2 ORDER BY 1, 2
""",
    tags=("streaming",),
)
def t3_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: 1h window sliding by 15min — every event lands in exactly 4
    windows; the oracle expands them explicitly.

    Executed through the batch engine: `window()` is the same operator
    in both modes, and complete-mode streaming state for tens of
    thousands of open windows is pure overhead when the input is finite
    (t2 covers the streaming execution path)."""
    from jobhouse_spark.tables import Tables  # noqa: PLC0415

    events = Tables(spark, sf_dir).events
    return sliding_counts(events).orderBy("w", "event_type")


@register(
    "t4_session_window",
    oracle="""
WITH flagged AS (
  -- STRICT >: an event at exactly prev+gap EXTENDS the session
  -- (Spark's session merge is boundary-inclusive; pinned empirically
  -- by tools/streaming_fuzz.py — session_window([t, t+30min], gap
  -- 30min) is ONE session. The fixture's random micros never land on
  -- the exact boundary, which is why the old >= was latently green.)
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL '30 minutes'
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events),
sessions AS (
  -- the running sum must use the SAME total order as the lag above:
  -- with duplicate timestamps, ordering by ts alone lets an unflagged
  -- duplicate sort before its group's flagged row and take session_no 0,
  -- inflating COUNT(DISTINCT session_no) by one
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged)
SELECT user_id, COUNT(DISTINCT session_no) AS n_sessions, COUNT(*) AS n_events
FROM sessions GROUP BY user_id ORDER BY user_id
""",
    tags=("streaming", "session"),
)
def t4_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: session windows (30 min gap) vs the gaps-and-islands batch
    formulation. Boundary semantics pinned EMPIRICALLY (round-14
    streaming fuzz): Spark's session merge is boundary-INCLUSIVE — an
    event at exactly prev+gap extends the session — so the islands
    break is the STRICT ts - prev_ts > gap."""
    from jobhouse_spark.tables import Tables  # noqa: PLC0415

    sess = session_counts(Tables(spark, sf_dir).events, gap="30 minutes")
    return (
        sess.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("user_id")
    )


@register(
    "t6_stream_dedup",
    oracle=(
        "SELECT COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id "
        "FROM (SELECT DISTINCT event_id FROM events)"
    ),
    tags=("streaming", "dedup"),
)
def t6_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: streaming dropDuplicates on the key — the A15 dedup check in
    streaming form. The oracle checks the surviving key SET (count +
    sum), not just its size; only key-derived values are emitted because
    the survivor among same-key duplicates is first-seen, i.e.
    arbitrary, for every other column."""
    deduped = dedup_stream(stream_events(spark, sf_dir)).select("event_id")
    with pinned_shuffle(spark, 8):
        sunk = run_to_memory(deduped, mode="append")
    return sunk.agg(F.count("*").alias("n"), F.sum("event_id").alias("sum_id"))


@register(
    "t8_stream_static_join",
    oracle="""
SELECT d.category, COUNT(*) AS n, {sv} AS sum_value
FROM events e
JOIN (VALUES ('click', 'engagement'), ('view', 'engagement'),
             ('purchase', 'revenue'), ('signup', 'growth'),
             ('error', 'ops')) d(event_type, category)
  ON e.event_type = d.event_type
GROUP BY 1 ORDER BY 1
""".format(sv=fin_sql("SUM(" + dec_sql("e.value") + ")")),
    tags=("streaming", "join"),
)
def t8_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: stream-static broadcast join enriching events with a dim —
    value-checked per category (count + decimal-exact value sum), so a
    row duplicated or dropped by the join surfaces in the hash."""
    from jobhouse_spark.queries.registry import dec, fin  # noqa: PLC0415

    dim = spark.createDataFrame(
        [
            ("click", "engagement"),
            ("view", "engagement"),
            ("purchase", "revenue"),
            ("signup", "growth"),
            ("error", "ops"),
        ],
        "event_type string, category string",
    )
    enriched = enrich_with_static(
        stream_events(spark, sf_dir).select("event_type", "value"), dim
    ).select("category", "value")
    sunk = run_to_memory(enriched, mode="append")
    return (
        sunk.filter(F.col("category").isNotNull())
        .groupBy("category")
        .agg(
            F.count("*").alias("n"),
            fin(F.sum(dec(F.col("value")))).alias("sum_value"),
        )
        .orderBy("category")
    )


@register(
    "t11_stream_stream_join",
    oracle="""
WITH e AS (SELECT * FROM events WHERE event_id < 3000),
     l AS (SELECT * FROM e WHERE event_type = 'click'),
     r AS (SELECT * FROM e WHERE event_type = 'view')
SELECT COUNT(*) AS n_pairs,
       CAST(SUM(l.event_id + r.event_id) AS BIGINT) AS id_sum
FROM l JOIN r ON l.user_id = r.user_id
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 24 HOUR
""",
    tags=("streaming", "join"),
)
def t11_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11: stream-stream inner join with watermarks + time-range bound
    (state-evicting). Full AvailableNow replay is deterministic, so the
    batch SQL join is an exact oracle."""
    src = stream_events(spark, sf_dir).filter(F.col("event_id") < 3000)
    left = src.filter(F.col("event_type") == "click")
    right = src.filter(F.col("event_type") == "view")
    joined = stream_stream_join(left, right, range_="24 hours")
    with pinned_shuffle(spark, 8):
        sunk = run_to_memory(joined, mode="append")
    return sunk.agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.col("left_id") + F.col("right_id")).alias("id_sum"),
    )


@register(
    "t14_stream_stream_left_join",
    oracle="""
WITH e AS (SELECT * FROM events WHERE event_id < 3000),
     l AS (SELECT * FROM e WHERE event_type = 'click'),
     r AS (SELECT * FROM e WHERE event_type = 'view')
SELECT l.event_id AS left_id, r.event_id AS right_id,
       l.user_id AS user_id
FROM l LEFT JOIN r ON l.user_id = r.user_id
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 4 HOUR
ORDER BY left_id, right_id NULLS FIRST
""",
    tags=("streaming", "join", "outer"),
)
def t14_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T14: stream-stream LEFT OUTER join with watermarks + time-range
    bound. The semantics trap the batch oracle certifies: an unmatched
    left row's null-padded result emits only when the WATERMARK EVICTS
    its state — rows still in state when the data ends emit nothing.
    To make the bounded replay total (and therefore batch-oracle-
    equal), the replay appends a SENTINEL flush batch (one click + one
    view at max ts + 6 h, user −1, filtered from the output) whose
    watermark advance makes the final no-data micro-batch evict and
    emit every real unmatched left — the exact pattern a production
    backfill uses to drain funnel verdicts at partition end
    (streaming/jobs.stream_stream_left_join docstring; eviction-on-
    no-data-batch pinned by tests/test_streaming.py::t14 unit).

    Replay shape: batch 0 = the whole real slice (so no real row is
    ever late — pairs form exactly as in batch SQL), batch 1 = the
    sentinels; maxFilesPerTrigger=1 forces that file→batch mapping.
    """
    import os  # noqa: PLC0415
    import time as _time  # noqa: PLC0415

    from jobhouse_spark.tables import Tables, scratch_dir  # noqa: PLC0415

    ev = (
        Tables(spark, sf_dir).events
        .filter(F.col("event_id") < 3000)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    max_ts = ev.agg(F.max("ts")).first()[0]
    d = scratch_dir("t14")
    ev.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "b0"))
    spark.createDataFrame(
        [(-1, max_ts, -1, "click", 0.0), (-2, max_ts, -1, "view", 0.0)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    ).withColumn("ts", F.col("ts") + F.expr("interval 6 hours")) \
     .coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "b1"))
    stream_dir = os.path.join(d, "stream")
    os.makedirs(stream_dir)
    base = _time.time() - 3600
    for i, sub in enumerate(("b0", "b1")):
        for f in sorted(os.listdir(os.path.join(d, sub))):
            if f.endswith(".parquet"):
                dst = os.path.join(stream_dir, f"{i:03d}-{f}")
                os.link(os.path.join(d, sub, f), dst)
                os.utime(dst, (base + i, base + i))

    src = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double"
        )
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(stream_dir)
    )
    joined = stream_stream_left_join(
        src.filter(F.col("event_type") == "click"),
        src.filter(F.col("event_type") == "view"),
        watermark="1 hour",
        range_="4 hours",
    )
    with pinned_shuffle(spark, 8):
        sunk = run_to_memory(joined, mode="append")
    return (
        sunk.filter(F.col("left_id") >= 0)
        .orderBy("left_id", F.asc_nulls_first("right_id"))
    )


# shared by t13 (batch session_window) and t13b (the STREAMING form):
# the gaps-and-islands generalization of dynamic-gap sessionization —
# a session breaks when ts > max(prev ts+gap), STRICT: an event at
# exactly the running session end merges in (boundary-inclusive, same
# empirical pin as t4; tools/streaming_fuzz.py hits the boundary)
_T13_ORACLE = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'click' THEN INTERVAL '15 minutes'
              ELSE INTERVAL '45 minutes' END AS gap
  FROM events),
w AS (
  SELECT user_id, ts,
         MAX(ts + gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_end
  FROM g)
SELECT user_id,
       CAST(SUM(CASE WHEN prev_end IS NULL OR ts > prev_end
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM w GROUP BY user_id ORDER BY user_id
"""


@register(
    "t13_dynamic_session_window",
    oracle=_T13_ORACLE,
    tags=("streaming", "session"),
)
def t13_dynamic_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13: DYNAMIC-gap session windows — the gap depends on the event
    (15 min after clicks, 45 min otherwise), Spark's
    `session_window(ts, expr)` form. The batch oracle is the
    running-max gaps-and-islands generalization: a session breaks when
    ts > max(prev ts+gap), STRICT — the merge is boundary-inclusive
    (empirical pin, see t4). Same one-shuffle-per-user shape as T4 at
    scale."""
    from jobhouse_spark.streaming.jobs import dynamic_session_counts  # noqa: PLC0415
    from jobhouse_spark.tables import Tables  # noqa: PLC0415

    sess = dynamic_session_counts(Tables(spark, sf_dir).events)
    return (
        sess.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("user_id")
    )


@register(
    "t13b_dynamic_session_streaming",
    oracle=_T13_ORACLE,
    tags=("streaming", "session", "checked"),
)
def t13b_dynamic_session_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13b: the STREAMING form of t13 — dynamic-gap session windows
    merged by Structured Streaming's session-window STATE MACHINE
    (micro-batch session merge in the state store) instead of the batch
    Expand/agg plan, replayed with AvailableNow and rolled up per user.
    Full replay is deterministic, so the same gaps-and-islands batch
    oracle hash-checks the streaming state machine end-to-end (the
    t7b checked-twin pattern). Provider-equivalence (HDFS vs RocksDB)
    for this exact pipeline: tests/test_streaming.py::test_t14 and
    tools/state_store_suite.py at 30x."""
    from jobhouse_spark.streaming.jobs import (  # noqa: PLC0415
        dynamic_session_counts,
        pinned_shuffle,
        run_to_memory,
        stream_events,
    )

    sess = dynamic_session_counts(stream_events(spark, sf_dir))
    with pinned_shuffle(spark, 8):
        sunk = run_to_memory(sess, mode="complete")
    return (
        sunk.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("user_id")
    )
