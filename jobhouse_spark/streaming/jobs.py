"""Structured Streaming building blocks (SURVEY §2.B T1-T10).

Verification model (§2.B streaming preamble): every streaming query here
can run with Trigger.AvailableNow over the events parquet into a memory
sink, then hash-compare against a batch/DuckDB formulation. Late-data
(T5) and stateful (T7) behaviors are unit-tested with hand-built
fixtures in tests/test_streaming.py.

Scale: these are the same plans a Kafka-fed cluster job would run —
file source swaps for kafka source, memory sink for a parquet/Delta
sink via foreachBatch (T9 unifies with the bronze writer), watermarks
bound state size, AQE handles the micro-batch shuffles.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobhouse_spark.tables import events_schema, scratch_dir, ts_from_nanos

_SINK_COUNTER = itertools.count()
_STREAM_DIRS: dict[str, str] = {}


def _events_stream_dir(sf_dir: str) -> str:
    """File-stream sources need a *directory*; expose the read-only
    events.parquet through a symlink in a temp dir (created once per
    sf_dir, removed at exit)."""
    if sf_dir not in _STREAM_DIRS:
        d = scratch_dir("events_stream")
        src = os.path.join(sf_dir, "events.parquet")
        if os.path.isdir(src):
            # multi-file layout: link each part file flat into the
            # stream dir (file sources don't recurse into a subdir link)
            for f in sorted(os.listdir(src)):
                if f.endswith(".parquet"):
                    os.symlink(os.path.join(src, f), os.path.join(d, f))
        else:
            os.symlink(src, os.path.join(d, "events.parquet"))
        _STREAM_DIRS[sf_dir] = d
    return _STREAM_DIRS[sf_dir]


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: file-stream source over the events parquet. `ts` lands as a
    proper TimestampType either way: nanos fixtures stream `ts` as a
    long under ``events_schema`` and go through ``ts_from_nanos``."""
    raw = (
        spark.readStream.schema(events_schema(sf_dir))
        .format("parquet")
        .load(_events_stream_dir(sf_dir))
    )
    return ts_from_nanos(raw)


def run_to_memory(df: DataFrame, mode: str = "append") -> DataFrame:
    """Drive a streaming DataFrame to completion synchronously
    (AvailableNow semantics via processAllAvailable) into a memory sink;
    return the sink as a batch DataFrame.

    The sink's temp view is dropped before returning: the returned
    frame's plan holds the sink, so its rows live only as long as that
    frame, not for the life of the session."""
    name = f"jh_sink_{os.getpid()}_{next(_SINK_COUNTER)}"
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    spark = df.sparkSession
    try:
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def tumbling_counts(events: DataFrame) -> DataFrame:
    """T2: 1-hour tumbling window aggregate per event type."""
    from jobhouse_spark.queries.registry import dec, fin  # noqa: PLC0415

    return (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), fin(F.sum(dec(F.col("value")))).alias("sum_value"))
        .select(F.col("window.start").alias("w"), "event_type", "n", "sum_value")
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """T3: 1-hour window sliding every 15 minutes."""
    return (
        events.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("w"), "event_type", "n")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """T4: session windows per user (gap-based)."""
    return (
        events.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            "user_id",
            "n_events",
        )
    )


def dynamic_session_counts(events: DataFrame) -> DataFrame:
    """T13/T13b core: DYNAMIC-gap session windows — the gap depends on
    the event (15 min after clicks, 45 min otherwise), Spark's
    `session_window(ts, expr)` form. Works identically over a batch or
    streaming DataFrame (t13 runs it batch, t13b through the streaming
    session-merge state machine; tools/streaming_fuzz.py fuzzes both
    paths against the gaps-and-islands oracle).

    session_window's dynamic gap must be CalendarIntervalType; INTERVAL
    literals parse as DayTimeIntervalType — make_interval yields the
    calendar type."""
    gap = F.expr(
        "CASE WHEN event_type = 'click' THEN make_interval(0,0,0,0,0,15,0) "
        "ELSE make_interval(0,0,0,0,0,45,0) END"
    )
    return events.groupBy(F.session_window("ts", gap), "user_id").agg(
        F.count("*").alias("n_events")
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """T6: streaming exact dedup on the event key (A15 streaming form)."""
    return events.dropDuplicates(["event_id"])


def enrich_with_static(events: DataFrame, dim: DataFrame) -> DataFrame:
    """T8: stream-static join — dimension broadcast to every micro-batch."""
    return events.join(F.broadcast(dim), "event_type", "left")


def write_stream_bronze(events: DataFrame, root: str) -> None:
    """T9: foreachBatch sink reusing the bronze partitioned writer path —
    one code path for batch (A8) and streaming ingestion."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.withColumn("year", F.date_format("ts", "yyyy"))
            .withColumn("month", F.date_format("ts", "MM"))
            .withColumn("day", F.date_format("ts", "dd"))
            .write.mode("append")
            .partitionBy("year", "month", "day")
            .parquet(root)
        )

    q = (
        events.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(root, "_checkpoint"))
        .start()
    )
    q.awaitTermination()


def write_stream_bronze_exactly_once(events: DataFrame, root: str, on_epoch=None) -> None:
    """T9b: idempotent epoch-keyed bronze sink — exactly-once under
    crash/restart.

    foreachBatch gives at-least-once by itself: if the job dies AFTER
    the sink wrote but BEFORE the offset commit, recovery re-runs the
    same epoch, and a blind ``mode("append")`` sink (write_stream_bronze)
    would duplicate it. Writing each epoch to its own ``epoch=<id>``
    directory with ``mode("overwrite")`` makes the retry idempotent: the
    re-executed epoch REPLACES whatever the failed attempt left behind —
    epoch_id is stable across retries (it comes from the checkpoint's
    offset log), which is exactly the idempotent-by-batch-id contract
    Structured Streaming documents for foreachBatch sinks.

    Data lands under ``root/data`` (epoch as a partition column), the
    checkpoint under ``root/_checkpoint``. ``on_epoch(epoch_id)`` is a
    post-write / pre-commit seam used by the crash-recovery test to
    inject a failure at the worst possible moment.
    """

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(root, "data", f"epoch={epoch_id}")
        )
        if on_epoch is not None:
            on_epoch(epoch_id)

    q = (
        events.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(root, "_checkpoint"))
        .start()
    )
    q.awaitTermination()


def stream_incremental_merge(
    events: DataFrame,
    silver_root: str,
    checkpoint_dir: str,
    key_col: str = "event_id",
    day_col: str = "day",
    order_col: str = "ts",
    on_epoch=None,
) -> None:
    """T16: streaming UPSERT sink into a day-partitioned silver table —
    each micro-batch applies through operators/incremental.
    incremental_merge (partition-pruned, dynamic partition overwrite).

    Exactly-once WITHOUT epoch-keyed output dirs: the merge itself is
    IDEMPOTENT (upserts replace by key), so a batch re-executed after a
    crash-before-offset-commit converges to the same silver state —
    the same recovery argument as write_stream_bronze_exactly_once, with
    idempotence supplied by merge semantics instead of directory
    overwrite. This is the streaming form of the A16b CDC apply: latest
    row per key wins, only touched day partitions rewrite each batch.

    ``events`` must carry ``day_col`` (the partition key) and
    ``order_col`` (the version order within a batch). ``on_epoch``
    is the crash-injection test seam (post-merge, pre-commit).
    """
    from pyspark.sql import Window  # noqa: PLC0415

    from jobhouse_spark.operators.incremental import incremental_merge  # noqa: PLC0415

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # a key appearing twice within one batch collapses to its LATEST
        # version by order_col before merging (merge expects one row per
        # key). NOT dropDuplicates: that keeps a partition-order-
        # dependent row, so the upsert value would be nondeterministic
        # within a batch AND across crash replays. Exact order_col ties
        # break on a content hash — retry-deterministic, never arbitrary.
        w = Window.partitionBy(key_col).orderBy(
            F.col(order_col).desc(), F.xxhash64(*batch_df.columns).asc()
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        empty_deletes = latest.filter(F.lit(False)).select(key_col, day_col)
        incremental_merge(spark, silver_root, latest, empty_deletes, key_col, day_col)
        if on_epoch is not None:
            on_epoch(epoch_id)

    q = (
        events.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.awaitTermination()


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    watermark: str = "1 hour",
    range_: str = "15 minutes",
) -> DataFrame:
    """T11: stream-stream inner join with watermarks and a time-range
    condition. Both sides carry watermarks so the join state store can
    evict rows once the range condition can no longer match — without
    the range bound the state would grow unboundedly at 100 TB/day.
    Physical shape: both streams shuffle on user_id once; the range
    predicate is a residual on the matched pairs."""
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    return l.join(
        r,
        F.expr(
            "l.user_id = r.user_id AND "
            f"r.ts >= l.ts AND r.ts <= l.ts + interval {range_}"
        ),
    ).select(
        F.col("l.event_id").alias("left_id"),
        F.col("r.event_id").alias("right_id"),
        F.col("l.user_id").alias("user_id"),
    )


def stream_stream_left_join(
    left: DataFrame,
    right: DataFrame,
    watermark: str = "1 hour",
    range_: str = "15 minutes",
) -> DataFrame:
    """T14: stream-stream LEFT OUTER join with watermarks and a
    time-range condition. Matched pairs emit eagerly like the inner
    join; an UNMATCHED left row emits its null-padded result only when
    the watermark evicts its state (l.ts + range < watermark) — the
    engine cannot know "no match will come" any earlier. Consequences
    a caller must design for (pinned by tests and the lsjoin fuzz
    axis):

    - unmatched lefts still in state when the stream ends emit
      NOTHING (no watermark passed them); a bounded replay that wants
      every left accounted for must carry a terminal flush event past
      max(ts) + delay + range on BOTH sides so the final no-data
      batch evicts and emits the stragglers — the t14 registry query
      does exactly that, which is what makes it batch-oracle-equal;
    - at 100 TB the same property is the funnel-analysis contract: a
      row's "no conversion" verdict arrives one watermark delay after
      its range closes, never earlier, so downstream marts must treat
      the null-padded stream as delayed by delay + range.
    """
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    return l.join(
        r,
        F.expr(
            "l.user_id = r.user_id AND "
            f"r.ts >= l.ts AND r.ts <= l.ts + interval {range_}"
        ),
        "leftOuter",
    ).select(
        F.col("l.event_id").alias("left_id"),
        F.col("r.event_id").alias("right_id"),
        F.col("l.user_id").alias("user_id"),
    )


def dedup_stream_within_watermark(events: DataFrame, horizon: str = "1 hour") -> DataFrame:
    """T6b: dropDuplicatesWithinWatermark — dedup whose state is bounded
    by the watermark horizon instead of growing forever. The semantics
    a production at-least-once Kafka feed needs: duplicates arrive close
    together, so keys older than the horizon are safe to forget."""
    return events.withWatermark("ts", horizon).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


class pinned_shuffle:
    """Context manager: pin spark.sql.shuffle.partitions for a stateful
    streaming run, then restore. Each shuffle partition of a stateful
    operator materializes a state store per micro-batch (per side, for
    joins); running a small-keyspace stream at a batch-sized partition
    count is pure state-store overhead (measured: t2 at 32 partitions is
    2× the 8-partition wall clock; a vanilla 200 is 5×)."""

    def __init__(self, spark: SparkSession, n: int = 8):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False
