"""Streaming behavior tests (T5 watermark, T7 stateful, T9 foreachBatch,
T10 triggers/output modes) — hand-built fixtures, SURVEY §5.2.4."""

from __future__ import annotations

import os
import tempfile
import time

import pandas as pd
import pytest
from datetime import datetime, timedelta
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jobhouse_spark.streaming.jobs import (
    run_to_memory,
    stream_events,
    write_stream_bronze,
    write_stream_bronze_exactly_once,
)

EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, value double"


def _write_batch(spark, d, rows, name):
    # flat single parquet FILE (a FileStreamSource lists files, not
    # Spark-written directories) — pyarrow writes it directly
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
        }
    )
    pq.write_table(table, os.path.join(d, name))


def test_t5_watermark_drops_late_rows(spark):
    """Rows later than watermark - delay must be dropped from an
    append-mode windowed aggregation."""
    src = tempfile.mkdtemp(prefix="jh_wm_src_")
    sink_name = f"jh_wm_{os.getpid()}_{time.time_ns()}"

    # batch 1: events across two hours advance the watermark to ~02:00
    _write_batch(
        spark,
        src,
        [
            (1, datetime(2024, 1, 1, 0, 10), 1, 1.0),
            (2, datetime(2024, 1, 1, 0, 40), 1, 1.0),
            (3, datetime(2024, 1, 1, 2, 0), 1, 1.0),
        ],
        "b1.parquet",
    )
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("w"), "n")
    )
    q = stream.writeStream.outputMode("append").format("memory").queryName(sink_name).start()
    q.processAllAvailable()

    # batch 2: a row in hour 00 — far older than watermark (02:00 - 10min)
    _write_batch(
        spark, src, [(99, datetime(2024, 1, 1, 0, 50), 1, 1.0)], "b2.parquet"
    )
    q.processAllAvailable()
    # batch 3: advance watermark beyond every window so all emit
    _write_batch(
        spark, src, [(100, datetime(2024, 1, 1, 6, 0), 1, 1.0)], "b3.parquet"
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()

    out = {r.w: r.n for r in spark.table(sink_name).collect()}
    # hour-00 window: the two on-time rows only; late event 99 dropped
    assert out[datetime(2024, 1, 1, 0, 0)] == 2, out


def test_t7_stateful_apply_in_pandas_with_state(spark, sf_dir):
    """Custom stateful op: running per-user event count via
    applyInPandasWithState equals the batch groupBy count."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = stream_events(spark, sf_dir)

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("n", T.LongType())])

    def count_fn(key, pdf_iter, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

    counted = events.groupBy("user_id").applyInPandasWithState(
        count_fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    sunk = run_to_memory(counted, mode="update")
    # update mode may emit a row per micro-batch; take the final value
    final = (
        sunk.groupBy("user_id").agg(F.max("n").alias("n")).orderBy("user_id").collect()
    )
    from jobhouse_spark.tables import Tables

    expected = {
        r.user_id: r.n
        for r in Tables(spark, sf_dir)
        .events.groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {r.user_id: r.n for r in final}
    assert got == expected


def test_t9_foreachbatch_bronze_sink(spark, sf_dir):
    """foreachBatch writer lands time-partitioned parquet equal to source."""
    root = tempfile.mkdtemp(prefix="jh_t9_")
    write_stream_bronze(stream_events(spark, sf_dir), root)
    back = spark.read.parquet(root)
    from jobhouse_spark.tables import Tables

    assert back.count() == Tables(spark, sf_dir).events.count()
    # partition dirs exist (year=2024/month=01/...)
    assert any(p.startswith("year=") for p in os.listdir(root)), os.listdir(root)


def test_t9b_crash_recovery_exactly_once(spark, tmp_path):
    """Kill the query at the WORST moment — epoch output written, offset
    not yet committed — restart from the checkpoint, and assert the
    recovered output is exactly-once (no loss, no duplicates).

    This is the failure window where a blind-append sink duplicates
    rows: recovery re-runs the uncommitted epoch. The epoch-keyed
    overwrite sink replaces the orphaned output instead."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = str(tmp_path / "src")
    os.makedirs(src)
    rows1 = [(i, datetime(2024, 1, 1, 0, i % 60), i % 7, float(i)) for i in range(100)]
    _write_batch(spark, src, rows1, "b1.parquet")

    root = str(tmp_path / "sink")
    seen: list[int] = []
    marker = tmp_path / "crash_already_injected"

    def crash_once(epoch_id: int) -> None:
        seen.append(epoch_id)
        if not marker.exists():
            marker.touch()
            raise RuntimeError("injected crash after write, before offset commit")

    def stream():
        return spark.readStream.schema(EVENT_SCHEMA).parquet(src)

    with pytest.raises(StreamingQueryException, match="injected crash"):
        write_stream_bronze_exactly_once(stream(), root, on_epoch=crash_once)
    # restart with the SAME checkpoint: the uncommitted epoch re-runs
    # under the SAME epoch id and its overwrite replaces the orphan
    write_stream_bronze_exactly_once(stream(), root, on_epoch=crash_once)
    assert len(seen) == 2 and seen[0] == seen[1], seen

    got = sorted(
        (r.event_id, r.user_id, r.value)
        for r in spark.read.parquet(os.path.join(root, "data")).collect()
    )
    assert got == sorted((r[0], r[2], r[3]) for r in rows1)

    # a second batch after recovery lands its own epoch, still exactly-once
    rows2 = [(1000 + i, datetime(2024, 1, 1, 2, i % 60), i % 7, float(i)) for i in range(50)]
    _write_batch(spark, src, rows2, "b2.parquet")
    write_stream_bronze_exactly_once(stream(), root, on_epoch=crash_once)
    got2 = sorted(
        (r.event_id, r.user_id, r.value)
        for r in spark.read.parquet(os.path.join(root, "data")).collect()
    )
    assert got2 == sorted((r[0], r[2], r[3]) for r in rows1 + rows2)


def test_t16_streaming_incremental_merge_exactly_once(spark, tmp_path):
    """Streaming upsert sink into day-partitioned silver: per-batch
    incremental merge, latest-per-key wins, and a crash injected after
    the merge but before the offset commit recovers exactly-once (merge
    idempotence supplies the dedup, not epoch-keyed dirs)."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from jobhouse_spark.streaming.jobs import stream_incremental_merge

    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 1: keys 1-3 on two days
    _write_batch(spark, src, [
        (1, datetime(2024, 1, 5, 1), 10, 1.0),
        (2, datetime(2024, 1, 5, 2), 20, 2.0),
        (3, datetime(2024, 1, 6, 1), 30, 3.0),
    ], "b1.parquet")
    # batch 2: update key 2 (same day), insert key 4 — plus an intra-
    # batch duplicate of key 4 (latest wins within the batch)
    _write_batch(spark, src, [
        (2, datetime(2024, 1, 5, 2), 20, 22.0),
        (4, datetime(2024, 1, 7, 1), 40, 4.0),
        (4, datetime(2024, 1, 7, 1), 40, 44.0),
    ], "b2.parquet")
    # FileStreamSource orders files by MODIFICATION TIME; under suite
    # load both writes can land in the same clock tick, making batch
    # order (and thus which upsert wins) nondeterministic — pin it
    now = time.time()
    os.utime(os.path.join(src, "b1.parquet"), (now - 100, now - 100))
    os.utime(os.path.join(src, "b2.parquet"), (now - 50, now - 50))

    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    marker = tmp_path / "crashed"
    seen: list[int] = []

    def crash_once(epoch_id: int) -> None:
        seen.append(epoch_id)
        if epoch_id > 0 and not marker.exists():
            marker.touch()
            raise RuntimeError("injected crash after merge, before commit")

    def stream():
        return (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .withColumn("day", F.to_date("ts"))
        )

    with pytest.raises(StreamingQueryException, match="injected crash"):
        stream_incremental_merge(stream(), silver, ckpt, on_epoch=crash_once)
    # restart: the uncommitted epoch re-merges (idempotent) and finishes
    stream_incremental_merge(stream(), silver, ckpt, on_epoch=crash_once)

    got = {
        r.event_id: (str(r.day), r.user_id, r.value)
        for r in spark.read.parquet(silver).collect()
    }
    # dropDuplicates keeps ONE row per key for the intra-batch dup —
    # either version is a valid "latest" (no ordering column contract)
    assert got[4][2] in (4.0, 44.0)
    expected = {
        1: ("2024-01-05", 10, 1.0),
        2: ("2024-01-05", 20, 22.0),
        3: ("2024-01-06", 30, 3.0),
        4: ("2024-01-07", 40, got[4][2]),
    }
    assert got == expected
    assert len(seen) >= 3 and seen[1] == seen[2], seen  # epoch re-ran once


def test_t10_trigger_available_now(spark, sf_dir):
    """AvailableNow trigger processes everything then terminates."""
    events = stream_events(spark, sf_dir)
    name = f"jh_t10_{os.getpid()}_{time.time_ns()}"
    q = (
        events.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    from jobhouse_spark.tables import Tables

    assert spark.table(name).count() == Tables(spark, sf_dir).events.count()


def test_t11_stream_stream_join_equals_batch(spark, sf_dir):
    """T11: stream-stream time-range join over the real events feed
    equals the identical batch join."""
    from jobhouse_spark.streaming.jobs import stream_stream_join
    from jobhouse_spark.tables import Tables

    def split(df):
        small = df.filter(F.col("event_id") < 3000)
        return (
            small.filter(F.col("event_type") == "click"),
            small.filter(F.col("event_type") == "view"),
        )

    sl, sr = split(stream_events(spark, sf_dir))
    streamed = run_to_memory(stream_stream_join(sl, sr, range_="24 hours")).collect()

    bl, br = split(Tables(spark, sf_dir).events)
    batch = (
        bl.alias("l")
        .join(
            br.alias("r"),
            F.expr(
                "l.user_id = r.user_id AND "
                "r.ts >= l.ts AND r.ts <= l.ts + interval 24 hours"
            ),
        )
        .select(
            F.col("l.event_id").alias("left_id"),
            F.col("r.event_id").alias("right_id"),
            F.col("l.user_id").alias("user_id"),
        )
        .collect()
    )
    assert len(batch) > 0
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))


def test_t6b_dedup_within_watermark(spark):
    """T6b: duplicates inside the watermark horizon are dropped; state
    for expired keys is released (behavioral: output has unique ids)."""
    from jobhouse_spark.streaming.jobs import dedup_stream_within_watermark

    src = tempfile.mkdtemp(prefix="jh_dwm_src_")
    _write_batch(
        spark,
        src,
        [
            (1, datetime(2024, 1, 1, 0, 0), 1, 1.0),
            (1, datetime(2024, 1, 1, 0, 5), 1, 1.0),  # dup within horizon
            (2, datetime(2024, 1, 1, 0, 10), 1, 1.0),
        ],
        "b1.parquet",
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    out = run_to_memory(dedup_stream_within_watermark(stream)).collect()
    assert sorted(r.event_id for r in out) == [1, 2]


def test_t12_stream_source_equals_batch(spark):
    """The Python streaming DataSource (one page per micro-batch,
    replayable offsets) delivers exactly the batch scan's rows."""
    from jobhouse_spark.queries.jobhouse_domain import FIXTURE
    from jobhouse_spark.sources.hh_datasource import HHReplayDataSource
    from jobhouse_spark.streaming.jobs import run_to_memory

    spark.dataSource.register(HHReplayDataSource)
    batch = spark.read.format("hh_replay").option("fixture", FIXTURE).load()
    stream = spark.readStream.format("hh_replay").option("fixture", FIXTURE).load()
    sunk = run_to_memory(stream)
    key = lambda r: (r.id, r.page)  # noqa: E731
    assert sorted(map(key, sunk.collect())) == sorted(map(key, batch.collect()))
    # offsets advanced one page per micro-batch over the whole fixture
    assert sunk.select("page").distinct().count() == batch.select("page").distinct().count()


def _tumbling_shape(spark, sf_dir):
    from jobhouse_spark.streaming.jobs import pinned_shuffle, tumbling_counts

    with pinned_shuffle(spark, 8):
        return run_to_memory(
            tumbling_counts(stream_events(spark, sf_dir)), mode="complete"
        )


def _stateful_count_shape(spark, sf_dir):
    from jobhouse_spark.queries import all_queries

    return all_queries()["t7b_stateful_count_checked"].fn(spark, sf_dir)


def _stream_join_shape(spark, sf_dir):
    from jobhouse_spark.queries import all_queries

    return all_queries()["t11_stream_stream_join"].fn(spark, sf_dir)


def _dynamic_session_shape(spark, sf_dir):
    from tools.state_store_suite import t13s_streaming

    return t13s_streaming(spark, sf_dir)


_STATEFUL_SHAPES = {
    "tumbling_window": _tumbling_shape,
    "stateful_count": _stateful_count_shape,
    "stream_stream_join": _stream_join_shape,
    "dynamic_session": _dynamic_session_shape,
}


@pytest.mark.parametrize("shape", sorted(_STATEFUL_SHAPES))
def test_t14_rocksdb_state_store_equivalence(spark, sf_dir, shape):
    """The RocksDB state store provider (the bounded-memory backend a
    100 TB streaming job runs — state lives off-heap/on-disk instead of
    in the executor heap like the default HDFS-backed store) must be
    INVISIBLE to semantics across every stateful shape the engine
    ships: windowed agg, applyInPandasWithState custom state,
    stream-stream join state, dynamic-gap session-merge state. Provider
    is a runtime-settable per-query conf, so the same session runs
    both. The 30x-scale throughput twin of this test is
    tools/state_store_suite.py (SCALE.md)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    fn = _STATEFUL_SHAPES[shape]

    def run():
        return sorted(map(tuple, fn(spark, sf_dir).collect()))

    default = run()
    # SQLConf.contains distinguishes explicitly-set from default-valued
    # (conf.get(key, None) returns the DEFAULT for known keys — see
    # tests/test_runtime_filter.py)
    jconf = spark._jsparkSession.sessionState().conf()
    prev = spark.conf.get(key) if jconf.contains(key) else None
    try:
        spark.conf.set(key, rocks)
        via_rocks = run()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert via_rocks == default and len(default) > 0


def test_session_window_append_watermark(spark):
    """Watermarked APPEND-mode variant of the t13 dynamic-gap session
    form (VERDICT r9 nit: t13b replays in complete mode with unbounded
    state — this is the state-BOUNDED production shape): sessions
    finalize and append exactly once when the watermark passes their
    end, a later-than-watermark event is dropped instead of reopening
    an emitted session, and the dynamic gap (15 min after clicks, 45
    min otherwise) shows up in the emitted session ends. Extends
    test_t5's file-per-batch fixture pattern to session windows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tempfile.mkdtemp(prefix="jh_sess_src_")
    sink_name = f"jh_sess_{os.getpid()}_{time.time_ns()}"

    def write(rows, name):
        table = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
            }
        )
        pq.write_table(table, os.path.join(src, name))

    # b1: user 1 two clicks -> one merged session [00:00, 00:25);
    #     user 3 one view   -> 45-min gap session [01:00, 01:45);
    #     user 2 click at 03:00 advances the watermark to 02:50
    write(
        [
            (1, datetime(2024, 1, 1, 0, 0), 1, "click"),
            (2, datetime(2024, 1, 1, 0, 10), 1, "click"),
            (3, datetime(2024, 1, 1, 1, 0), 3, "view"),
            (4, datetime(2024, 1, 1, 3, 0), 2, "click"),
        ],
        "b1.parquet",
    )

    gap = F.expr(
        "CASE WHEN event_type = 'click' THEN make_interval(0,0,0,0,0,15,0) "
        "ELSE make_interval(0,0,0,0,0,45,0) END"
    )
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("session_window.start").alias("s"),
            F.col("session_window.end").alias("e"),
            "user_id",
            "n",
        )
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink_name)
        .start()
    )
    q.processAllAvailable()

    # b2: user 1 event at 00:05 — INSIDE the already-finalized session
    # but older than the watermark (02:50): must be dropped, not
    # reopen/duplicate the appended session
    write([(99, datetime(2024, 1, 1, 0, 5), 1, "click")], "b2.parquet")
    q.processAllAvailable()

    # b3: advance the watermark past every session so user 2's emits too
    write([(100, datetime(2024, 1, 1, 6, 0), 2, "click")], "b3.parquet")
    q.processAllAvailable()
    progress = q.lastProgress
    q.stop()
    q.awaitTermination()

    rows = spark.table(sink_name).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.s, r.e, r.n))

    # user 1: exactly ONE appended session, the two on-time clicks only,
    # end = last click + 15-min click gap (dynamic gap in streaming)
    assert by_user[1] == [
        (datetime(2024, 1, 1, 0, 0), datetime(2024, 1, 1, 0, 25), 2)
    ], by_user
    # user 3: the 45-min non-click gap shows in the emitted end
    assert by_user[3] == [
        (datetime(2024, 1, 1, 1, 0), datetime(2024, 1, 1, 1, 45), 1)
    ], by_user
    # user 2: the 03:00 session finalized once b3 advanced the watermark
    assert by_user[2] == [
        (datetime(2024, 1, 1, 3, 0), datetime(2024, 1, 1, 3, 15), 1)
    ], by_user

    # state-BOUNDED: finalized sessions are evicted from the store —
    # only the still-open 06:00 session may remain
    state = (progress or {}).get("stateOperators") or []
    if state:
        assert state[0]["numRowsTotal"] <= 2, state[0]


def test_streaming_sink_maintains_manifest_incrementally(spark, tmp_path):
    """Composition: a foreachBatch sink that appends parquet AND
    maintains the min/max manifest per micro-batch with update_manifest
    (each update stats ONLY the batch's new files). After the stream
    drains, the incrementally-maintained manifest must equal a full
    rebuild, and a manifest-planned range query must equal the full
    scan — the maintenance loop a 100 TB streaming bronze runs on a
    schedule, verified end to end."""
    from jobhouse_spark.operators.maintenance import (
        build_manifest,
        manifest_pruned_read,
        update_manifest,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    for b in range(3):
        rows = [
            (b * 1000 + i, datetime(2024, 1, 1, b, i % 60), i % 7, float(i))
            for i in range(100)
        ]
        _write_batch(spark, src, rows, f"b{b}.parquet")

    data = str(tmp_path / "data")
    state = {"manifest_rows": [], "schema": None}

    def sink(batch_df, epoch_id):
        batch_df.write.mode("append").parquet(data)
        old = (
            spark.createDataFrame(state["manifest_rows"], state["schema"])
            if state["manifest_rows"]
            else build_manifest(spark, data, ["event_id"]).filter(F.lit(False))
        )
        m = update_manifest(spark, data, old, ["event_id"])
        # persist: the manifest is metadata — materialize per batch
        # (a real deployment writes it to its own parquet)
        state["manifest_rows"] = m.collect()
        state["schema"] = m.schema

    q = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force one micro-batch per file
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    incremental = sorted(map(tuple, state["manifest_rows"]))
    rebuilt = sorted(map(tuple, build_manifest(spark, data, ["event_id"]).collect()))
    assert incremental == rebuilt
    assert len(incremental) >= 3  # one+ file per micro-batch

    manifest = spark.createDataFrame(state["manifest_rows"], state["schema"])
    pruned = manifest_pruned_read(spark, manifest, {"event_id": (1000, 1099)})
    assert pruned.count() == 100
    cand = manifest.filter(
        (F.col("event_id_min") <= 1099) & (F.col("event_id_max") >= 1000)
    ).count()
    assert cand < len(incremental), "range query should not admit every file"


def test_t14_left_join_null_rows_emit_on_eviction_only(spark):
    """T14 distilled semantics: matched pairs emit eagerly; an
    UNMATCHED left emits its null-padded row only when the watermark
    EVICTS its state (via the trailing no-data micro-batch), and a
    left still in state when the data ends emits NOTHING — the two
    facts that make the sentinel-flush pattern necessary for bounded
    replays (t14 registry query) and the funnel-verdict delay real at
    100 TB."""
    from jobhouse_spark.streaming.jobs import stream_stream_left_join

    t0 = datetime(2024, 1, 1, 0, 0)
    src = tempfile.mkdtemp(prefix="jh_t14u_")
    # batch 0: a matched pair and an unmatched left
    _write_batch(spark, src, [
        (1, t0, 1, 1.0),
        (101, t0 + timedelta(minutes=5), 1, 1.0),
        (2, t0 + timedelta(minutes=20), 1, 1.0),
    ], "b1.parquet")
    # batch 1: flush left + a right OUTSIDE its range — watermark
    # advances past every batch-0 row, but the flush left itself stays
    # unmatched AND unevicted (W = max_ts - 1h < flush.ts + range)
    _write_batch(spark, src, [
        (90, t0 + timedelta(hours=10), 1, 1.0),
        (190, t0 + timedelta(hours=10, minutes=20), 1, 1.0),
    ], "b2.parquet")

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = run_to_memory(
        stream_stream_left_join(
            stream.filter(F.col("event_id") < 100),
            stream.filter(F.col("event_id") >= 100),
            watermark="1 hour",
            range_="15 minutes",
        ).select("left_id", "right_id"),
        mode="append",
    ).collect()
    got = sorted((r.left_id, r.right_id) for r in out)
    # 1 matched eagerly; 2 evicted-unmatched -> null row via the
    # no-data batch; 90 unmatched but STILL IN STATE -> nothing
    assert got == [(1, 101), (2, None)], got


def test_memory_sinks_leave_no_view(spark, sf_dir):
    """run_to_memory drops its sink's temp view: the rows live only as
    long as the frame it returns, not for the life of the session."""
    from jobhouse_spark.queries import all_queries

    reg = all_queries()
    for name in ("t1_stream_source", "t2_tumbling_window"):
        assert reg[name].fn(spark, sf_dir).collect()
    assert [t.name for t in spark.catalog.listTables()
            if t.name.startswith("jh_sink_")] == []
