"""Streaming equivalence fuzz (round-14 verdict task 2): seeded random
event trajectories replayed through the ENGINE's Structured Streaming
pipelines (jobhouse_spark/streaming/jobs.py) in REAL multi-micro-batch
form, differentially compared against batch formulations DuckDB also
runs — closing the one equivalence family (T2–T6/T13b) that had fuzz
coverage nowhere while batch SQL (~8,000 seeds), CDC trajectories, and
maintenance lifecycles all did.

What each trajectory contains (the SURVEY §7 "hard parts" soil):
  - bursty timestamps (exponential intra-burst inter-arrivals),
  - GAP-BOUNDARY-ADJACENT arrivals: successor events planted at
    prev + gap + {-1s, -1us, 0, +1us, +1s} for every gap the session
    checks use (10/15/30/45 min) — the half-open [start, last+gap)
    strictness trap (a gap of EXACTLY g starts a new session),
  - events snapped to exact hour boundaries (tumbling/sliding window
    half-open edge: hh:00:00.000000 belongs to the NEW window),
  - duplicate event_ids (dedup state), duplicate timestamps
    (tie-break soil), full-row duplicates,
  - out-of-order ARRIVAL: rows are shuffled independently of event
    time and split into 2–5 arrival files; the streams run with
    maxFilesPerTrigger=1 so each file is its own micro-batch and
    sessions/windows genuinely extend & MERGE across batches in the
    state store.

Checks per trajectory (all Spark sides are the engine's functions):
  tumbling   complete-mode tumbling_counts (1h) vs date_trunc GROUP BY
             (count + decimal-exact value sum via dec/fin twins)
  sliding    complete-mode sliding_counts (1h/15m) vs the UNNEST([0..3])
             expansion
  session    complete-mode session_counts (30 min fixed gap) vs the
             gaps-and-islands formulation — compared at full
             (session_start, user_id, n_events) granularity, so a
             boundary mis-merge shifts a row, not just a count
  dynsession complete-mode dynamic_session_counts (15/45 min by event
             type, the t13b state machine) vs the running-max
             gaps-and-islands generalization, per-user rollup
  dedup      append-mode dedup_stream — surviving KEY SET (the survivor
             row among same-key duplicates is first-seen, i.e.
             arrival-dependent, so only key-derived output is checked)
  watermark  append-mode 1h tumbling with withWatermark(ts, 30 min):
             arrival-ORDER-dependent, so no order-blind SQL oracle can
             express it — checked against a Python model of the
             documented watermark recurrence instead (wm_{k+1} =
             max(wm_k, max event ts in batch k − delay), applied at the
             NEXT batch; a row is dropped iff its window end <= wm at
             its batch; a window emits to the append sink iff its end
             <= the final wm). The ledger marks this axis model-checked
             rather than DuckDB-checked.
  wmdedup    append-mode dropDuplicatesWithinWatermark — Python model of
             the two-watermark recurrence at MILLISECOND granularity
             (the ms-floor found by campaign-2 seed 300; ddw10 pins it)
  ssjoin     stream-stream INNER join (t11 mechanism: equi-key +
             30-min range, 1h watermarks both sides) vs a Python model:
             two watermark nodes (min policy), inclusive one-behind
             late filter, exact-µs range predicate, current-watermark
             eviction — reproduces the filter-lag pair losses
  lsjoin     stream-stream LEFT OUTER join (t14) — ssjoin model plus
             matched flags, eviction-time (left, NULL) emission, and
             the trailing no-data eviction pass; in-state leftovers
             emit nothing

Usage:
  python tools/streaming_fuzz.py --seeds=0:220 [--json=STREAMFUZZ.json]
         [--checks=tumbling,session,...]
Cores from $SPARK_GRAFT_CPUS (default: all), heap from
$SPARK_DRIVER_MEMORY (default 6g).

Exit 0 iff every check of every seed matched. The ledger file is
append-mode: each campaign adds one record. CI pins seeds 0–2
(tests/test_streaming_fuzz.py) so the fixed block can never regress.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MICRO = 1_000_000
HOUR = 3600 * MICRO
GAPS_S = (10 * 60, 15 * 60, 30 * 60, 45 * 60)  # every gap a check uses
EPOCH_US = 1_772_323_200 * MICRO  # 2026-03-01T00:00:00Z

_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double"
)


# ---------------------------------------------------------------------------
# trajectory generator
# ---------------------------------------------------------------------------

def gen_trajectory(seed: int) -> list[list]:
    """Rows [event_id, ts_us, user_id, event_type, value] in ARRIVAL
    order (shuffled; event time and arrival order are independent)."""
    rng = random.Random(0xFACE + seed)
    rows: list[list] = []
    eid = seed * 1_000_000
    for u in range(rng.randint(1, 6)):
        t = EPOCH_US + rng.randint(0, 6 * 3600) * MICRO
        for _burst in range(rng.randint(1, 4)):
            for _i in range(rng.randint(3, 22)):
                r = rng.random()
                if r < 0.35:
                    # gap-boundary-adjacent: land exactly at/around a
                    # session-gap boundary (µs and s offsets both)
                    gap = rng.choice(GAPS_S) * MICRO
                    t += gap + rng.choice(
                        (-MICRO, -1, 0, 1, MICRO, -60 * MICRO, 60 * MICRO)
                    )
                elif r < 0.45:
                    pass  # duplicate timestamp (t unchanged)
                elif r < 0.55:
                    t += rng.choice((HOUR, 2 * HOUR))  # window-edge jumps
                else:
                    t += (int(rng.expovariate(1 / 180.0)) + 1) * MICRO
                eid += 1
                rows.append([
                    eid, t, u,
                    rng.choice(("click", "view", "purchase", "error")),
                    round(rng.uniform(0, 100), 2),
                ])
            # inter-burst spacing also boundary-adjacent
            t += rng.choice(GAPS_S) * MICRO + rng.randint(-2, 2) * MICRO
    # snap ~1/12 of events to EXACT hour boundaries (half-open edge)
    for i in rng.sample(range(len(rows)), max(1, len(rows) // 12)):
        rows[i][1] = (rows[i][1] // HOUR) * HOUR
    # duplicate event_ids (~1/10): reuse an earlier id at a different time
    for i in rng.sample(range(len(rows)), max(1, len(rows) // 10)):
        rows[i][0] = rows[rng.randrange(len(rows))][0]
    # full-row duplicates (~1/20)
    for i in rng.sample(range(len(rows)), max(1, len(rows) // 20)):
        rows.append(list(rows[i]))
    rng.shuffle(rows)  # arrival order ⟂ event time
    return rows


def write_arrival_files(rows: list[list], d: str, seed: int) -> list[list[list]]:
    """Split arrival-ordered rows into 2–5 parquet files (micro-batches
    under maxFilesPerTrigger=1; FileStreamSource orders by mtime then
    path, so both are forced monotone). Returns the batches."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    rng = random.Random(0xBEEF + seed)
    k = rng.randint(2, 5)
    cuts = sorted(rng.sample(range(1, len(rows)), k - 1)) if len(rows) > k else []
    batches, prev = [], 0
    for c in [*cuts, len(rows)]:
        if c > prev:
            batches.append(rows[prev:c])
        prev = c
    base_mtime = time.time() - 3600
    for i, b in enumerate(batches):
        tbl = pa.table({
            "event_id": pa.array([r[0] for r in b], pa.int64()),
            "ts": pa.array([r[1] for r in b], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in b], pa.int64()),
            "event_type": pa.array([r[3] for r in b], pa.string()),
            "value": pa.array([r[4] for r in b], pa.float64()),
        })
        path = os.path.join(d, f"batch-{i:03d}.parquet")
        pq.write_table(tbl, path)
        os.utime(path, (base_mtime + i, base_mtime + i))
    return batches


# ---------------------------------------------------------------------------
# harness
# ---------------------------------------------------------------------------

def _stream(spark, d: str):
    return (
        spark.readStream.schema(_EV_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(d)
    )


def _run_stream(df, mode: str):
    """Drive to completion into a memory sink and collect (the sink view
    is already dropped: a campaign leaves no per-seed driver-memory
    residue)."""
    from jobhouse_spark.streaming.jobs import run_to_memory  # noqa: PLC0415

    return run_to_memory(df, mode).toPandas()


def _duck(duck, sql: str):
    return duck.execute(sql).fetchdf()


def _mismatches(spark_pdf, duck_pdf) -> list[str]:
    from tests.oracle import compare_frames  # noqa: PLC0415

    return compare_frames(spark_pdf, duck_pdf)


# ---- the six checks -------------------------------------------------------

def check_tumbling(spark, duck, d, batches):
    from jobhouse_spark.queries.registry import dec_sql, fin_sql  # noqa: PLC0415
    from jobhouse_spark.streaming.jobs import tumbling_counts  # noqa: PLC0415

    got = _run_stream(tumbling_counts(_stream(spark, d)), "complete")
    want = _duck(duck, (
        "SELECT date_trunc('hour', ts) AS w, event_type, COUNT(*) AS n, "
        + fin_sql("SUM(" + dec_sql("value") + ")")
        + " AS sum_value FROM ev GROUP BY 1, 2"
    ))
    return _mismatches(got, want)


def check_sliding(spark, duck, d, batches):
    from jobhouse_spark.streaming.jobs import sliding_counts  # noqa: PLC0415

    got = _run_stream(sliding_counts(_stream(spark, d)), "complete")
    want = _duck(duck, """
SELECT time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes' AS w,
       event_type, COUNT(*) AS n
FROM ev, UNNEST([0, 1, 2, 3]) AS t(k)
GROUP BY 1, 2""")
    return _mismatches(got, want)


def check_session(spark, duck, d, batches):
    from jobhouse_spark.streaming.jobs import session_counts  # noqa: PLC0415

    got = _run_stream(session_counts(_stream(spark, d), gap="30 minutes"),
                      "complete")
    # gaps-and-islands with the STRICT > break: Spark's session merge
    # is boundary-INCLUSIVE — an event at exactly prev+gap extends the
    # session (this fuzzer's seed-0 run caught the registry's original
    # >= as an exact-boundary bug no fixture could hit). Ties broken by
    # (event_id, value) for a total order — session content depends
    # only on the ts multiset, so tie order can't change the result.
    want = _duck(duck, """
WITH o AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
         THEN 1 ELSE 0 END AS brk
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id, value)),
s AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id, value
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o)
SELECT MIN(ts) AS session_start, user_id, COUNT(*) AS n_events
FROM s GROUP BY user_id, sid""")
    return _mismatches(got, want)


def check_dynsession(spark, duck, d, batches):
    from pyspark.sql import functions as F  # noqa: PLC0415

    from jobhouse_spark.streaming.jobs import dynamic_session_counts  # noqa: PLC0415

    sess = dynamic_session_counts(_stream(spark, d))
    sunk = _run_stream(sess, "complete")
    import pandas as pd  # noqa: PLC0415

    got = (
        sunk.groupby("user_id", as_index=False)
        .agg(n_sessions=("n_events", "size"), n_events=("n_events", "sum"))
    )
    got = got.astype({"n_sessions": "int64", "n_events": "int64"})
    want = _duck(duck, """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'click' THEN INTERVAL '15 minutes'
              ELSE INTERVAL '45 minutes' END AS gap
  FROM ev),
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
FROM w GROUP BY user_id""")
    _ = F, pd
    return _mismatches(got, want)


def check_dedup(spark, duck, d, batches):
    from jobhouse_spark.streaming.jobs import dedup_stream  # noqa: PLC0415

    got = _run_stream(dedup_stream(_stream(spark, d)).select("event_id"),
                      "append")
    got = got.sort_values("event_id").reset_index(drop=True)
    want = _duck(duck, "SELECT DISTINCT event_id FROM ev ORDER BY event_id")
    return _mismatches(got, want)


def check_watermark(spark, duck, d, batches):
    """Arrival-order-dependent axis: append-mode tumbling agg under a 30
    min watermark, vs the Python model of the documented recurrence."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    delay_us = 30 * 60 * MICRO
    agg = (
        _stream(spark, d)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("w"), "event_type", "n")
    )
    got = _run_stream(agg, "append")

    # Two-watermark recurrence, pinned empirically (numRowsDroppedByWatermark
    # + boundary probes, round 14): batch k's LATE FILTER uses the
    # watermark in effect during batch k-1 (Spark's lateEvents
    # watermark, one batch BEHIND), while EVICTION/EMISSION at batch
    # k's end uses the current watermark; both predicates are
    # boundary-inclusive (window_end <= wm). W_{k+1} = max(W_k,
    # max event ts in batch k − delay), W_0 = epoch 0.
    w_filter = 0  # W_{k-1}: late-drop threshold for the current batch
    w_evict = 0   # W_k: eviction/emission threshold
    kept: dict[tuple[int, str], int] = {}
    for b in batches:
        for _eid, ts, _u, et, _v in b:
            wstart = (ts // HOUR) * HOUR
            if wstart + HOUR > w_filter:  # late iff window end <= W_prev
                key = (wstart, et)
                kept[key] = kept.get(key, 0) + 1
        w_filter = w_evict
        if b:
            w_evict = max(w_evict, max(r[1] for r in b) - delay_us)
    wm = w_evict  # final watermark (the post-data no-data batch emits)
    import datetime as dt  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    rows = [
        (dt.datetime.utcfromtimestamp(ws // MICRO), et, n)
        for (ws, et), n in kept.items()
        if ws + HOUR <= wm  # append sink holds only FINALIZED windows
    ]
    want = pd.DataFrame(rows, columns=["w", "event_type", "n"])
    want["n"] = want["n"].astype("int64") if len(want) else want["n"]
    return _mismatches(got, want)


def check_wmdedup(spark, duck, d, batches):
    """dropDuplicatesWithinWatermark (t6b): fully arrival-dependent —
    a key may legitimately re-emit once its state expired — so the
    oracle is a Python model pinned by nine probes (round 14):

      - two watermarks, as for aggregation: batch k's LATE FILTER
        drops rows with ts <= W_{k-1} (inclusive, one batch behind);
        EVICTION at batch k's end uses W_k (evict iff
        expiresAt <= W_k, inclusive);
      - ALL watermark arithmetic is MILLISECOND-floored: Spark tracks
        the watermark as ms (EventTimeStats collects max event time in
        ms), so W = floor_ms(max ts) - delay, and state expiry =
        floor_ms(ts) + delay. A µs-precision model is wrong by up to
        999 µs — campaign-2 seed 300's shuffled arrival split landed a
        new key 2 µs above the ms-floored watermark (== the µs-naive
        watermark minus nothing) and Spark emitted it where the µs
        model dropped it; progress counters (numRowsDroppedByWatermark
        per batch) isolated the granularity as the cause. Pinned by
        the ddw10 boundary probe in tests/test_streaming_fuzz.py;
      - the FIRST-IN-ARRIVAL-ORDER row of a key emits and defines the
        state's expiry (its ts + delay) — later in-batch duplicates
        are dropped even if earlier in event time;
      - a re-arrival during batch k dedups against state as evicted
        through batch k-1: expired-but-not-yet-evicted keys still
        dedup (eviction lags one batch behind expiry).
    """
    from jobhouse_spark.streaming.jobs import (  # noqa: PLC0415
        dedup_stream_within_watermark,
    )

    delay_us = 3600 * MICRO
    got = _run_stream(
        dedup_stream_within_watermark(_stream(spark, d), horizon="1 hour")
        .select("event_id", "ts"),
        "append",
    )

    w_filter = 0  # W_{k-1}
    w_evict = 0   # W_k
    state: dict[int, int] = {}  # key -> expiresAt
    emitted: list[tuple[int, int]] = []
    for b in batches:
        for eid, ts, _u, _et, _v in b:
            if ts <= w_filter:
                continue  # late (inclusive, vs the ms-floored wm)
            if eid in state:
                continue  # duplicate within horizon
            state[eid] = (ts // 1000) * 1000 + delay_us  # expiry in ms
            emitted.append((eid, ts))
        # end-of-batch-k eviction uses W_k (the wm DURING this batch,
        # i.e. BEFORE advancing on this batch's data — probe ddw6: a
        # key whose expiry lies between W_k and W_{k+1} still dedups
        # the NEXT batch's re-arrival), inclusive at equality (ddw5)
        state = {k: exp for k, exp in state.items() if exp > w_evict}
        w_filter = w_evict
        if b:
            mx = max(r[1] for r in b)
            w_evict = max(w_evict, (mx // 1000) * 1000 - delay_us)
    import datetime as dt  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    want = pd.DataFrame(
        [(eid, dt.datetime.utcfromtimestamp(ts // MICRO)
          + dt.timedelta(microseconds=ts % MICRO)) for eid, ts in emitted],
        columns=["event_id", "ts"],
    )
    return _mismatches(got, want)


def check_ssjoin(spark, duck, d, batches):
    """Stream-stream inner join (t11's mechanism: equi-key + time-range,
    watermarks both sides) under late/out-of-order MULTI-BATCH arrival —
    the t11 registry fixture replays without late drops, so its batch
    oracle never exercises the watermark interplay; this check does.

    No order-blind SQL oracle exists (drops depend on micro-batch
    boundaries), so the oracle is a Python model built from the pinned
    facts plus the join-specific ones:

      - TWO watermark nodes (one per side, attached after the
        event_type filter); the GLOBAL watermark is the MIN of the two
        (spark.sql.streaming.multipleWatermarkPolicy default), each
        node's value = floor_ms(max event ts seen BY THAT NODE) -
        delay, monotone, updated at batch end;
      - late filter per input: drop iff ts <= W_{k-1} (inclusive,
        ms-floored, one batch behind — same row-level convention ddw10
        pins for dedup);
      - within a batch, new-left joins (right state UNION new-right)
        and new-right joins left state (new-new pairs counted once);
        the range predicate is exact µs arithmetic;
      - state eviction at batch k's end uses W_k: a left row is
        evicted once l.ts + R < W_k can no longer match a future
        right (keep iff l.ts + R >= W_k), a right row once
        r.ts < W_k (keep iff r.ts >= W_k). Because the late filter
        lags one batch behind eviction, a row arriving in the lag
        window whose match was just evicted genuinely loses the pair —
        real Spark behavior the model must reproduce, not a bug.
    """
    import collections  # noqa: PLC0415

    from pyspark.sql import functions as F  # noqa: PLC0415

    from jobhouse_spark.streaming.jobs import stream_stream_join  # noqa: PLC0415

    r_us = 30 * 60 * MICRO
    delay_us = 3600 * MICRO
    src = _stream(spark, d)
    got = _run_stream(
        stream_stream_join(
            src.filter(F.col("event_type") == "click"),
            src.filter(F.col("event_type") == "view"),
            watermark="1 hour",
            range_="30 minutes",
        ).select("left_id", "right_id"),
        "append",
    )

    def fl(ts: int) -> int:
        return (ts // 1000) * 1000

    w_node_l = w_node_r = None  # per-side watermark node values
    w_filter = w_evict = 0      # global, one behind / current
    lstate: list[tuple] = []
    rstate: list[tuple] = []
    pairs: list[tuple] = []
    for b in batches:
        clicks = [(r[0], r[1], r[2]) for r in b if r[3] == "click"]
        views = [(r[0], r[1], r[2]) for r in b if r[3] == "view"]
        new_l = [x for x in clicks if x[1] > w_filter]
        new_r = [x for x in views if x[1] > w_filter]
        for lid, lts, lu in new_l:
            for rid, rts, ru in rstate + new_r:
                if lu == ru and lts <= rts <= lts + r_us:
                    pairs.append((lid, rid))
        for rid, rts, ru in new_r:
            for lid, lts, lu in lstate:
                if lu == ru and lts <= rts <= lts + r_us:
                    pairs.append((lid, rid))
        lstate += new_l
        rstate += new_r
        lstate = [x for x in lstate if x[1] + r_us >= w_evict]
        rstate = [x for x in rstate if x[1] >= w_evict]
        w_filter = w_evict
        if clicks:
            mx = fl(max(t for _, t, _ in clicks)) - delay_us
            w_node_l = mx if w_node_l is None else max(w_node_l, mx)
        if views:
            mx = fl(max(t for _, t, _ in views)) - delay_us
            w_node_r = mx if w_node_r is None else max(w_node_r, mx)
        if w_node_l is not None and w_node_r is not None:
            w_evict = max(w_evict, min(w_node_l, w_node_r))

    got_c = collections.Counter(
        zip(got["left_id"].astype(int), got["right_id"].astype(int))
    )
    want_c = collections.Counter(pairs)
    if got_c == want_c:
        return []
    extra = got_c - want_c
    missing = want_c - got_c
    return [
        f"pair multiset differs: spark-only={sorted(extra.items())[:3]} "
        f"model-only={sorted(missing.items())[:3]} "
        f"(spark {sum(got_c.values())} pairs, model {sum(want_c.values())})"
    ]


def check_lsjoin(spark, duck, d, batches):
    """Stream-stream LEFT OUTER join (t14's mechanism) under
    late/out-of-order arrival. The ssjoin model plus the outer-join
    parts, each empirically pinned by the t14 unit probes:

      - every left state row carries a matched flag, set when any pair
        emits (in either direction);
      - at eviction time an unmatched left emits its (left, NULL) row;
        a matched left emits nothing more;
      - eviction during batch k uses the IN-EFFECT watermark (one
        behind the batch's own data), and Spark runs a trailing
        NO-DATA batch after the last file, so the model runs one final
        eviction pass with the end-of-stream watermark — left rows
        still live after that pass emit nothing (the t14 sentinel
        lesson).
    """
    import collections  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    from jobhouse_spark.streaming.jobs import (  # noqa: PLC0415
        stream_stream_left_join,
    )

    r_us = 30 * 60 * MICRO
    delay_us = 3600 * MICRO
    src = _stream(spark, d)
    got = _run_stream(
        stream_stream_left_join(
            src.filter(F.col("event_type") == "click"),
            src.filter(F.col("event_type") == "view"),
            watermark="1 hour",
            range_="30 minutes",
        ).select("left_id", "right_id"),
        "append",
    )

    def fl(ts: int) -> int:
        return (ts // 1000) * 1000

    w_node_l = w_node_r = None
    w_filter = w_evict = 0
    lstate: list[list] = []  # [id, ts, user, matched]
    rstate: list[tuple] = []
    out: list[tuple] = []

    def evict(wm: int) -> None:
        nonlocal lstate, rstate
        keep = []
        for row in lstate:
            if row[1] + r_us < wm:
                if not row[3]:
                    out.append((row[0], None))
            else:
                keep.append(row)
        lstate = keep
        rstate = [x for x in rstate if x[1] >= wm]

    for b in batches:
        clicks = [r for r in b if r[3] == "click"]
        views = [r for r in b if r[3] == "view"]
        new_l = [[r[0], r[1], r[2], False] for r in clicks if r[1] > w_filter]
        new_r = [(r[0], r[1], r[2]) for r in views if r[1] > w_filter]
        for lrow in new_l:
            for rid, rts, ru in rstate + new_r:
                if lrow[2] == ru and lrow[1] <= rts <= lrow[1] + r_us:
                    out.append((lrow[0], rid))
                    lrow[3] = True
        for rid, rts, ru in new_r:
            for lrow in lstate:
                if lrow[2] == ru and lrow[1] <= rts <= lrow[1] + r_us:
                    out.append((lrow[0], rid))
                    lrow[3] = True
        lstate += new_l
        rstate += new_r
        evict(w_evict)
        w_filter = w_evict
        if clicks:
            mx = fl(max(r[1] for r in clicks)) - delay_us
            w_node_l = mx if w_node_l is None else max(w_node_l, mx)
        if views:
            mx = fl(max(r[1] for r in views)) - delay_us
            w_node_r = mx if w_node_r is None else max(w_node_r, mx)
        if w_node_l is not None and w_node_r is not None:
            w_evict = max(w_evict, min(w_node_l, w_node_r))
    evict(w_evict)  # the trailing no-data batch

    got_c = collections.Counter(
        (int(l), None if pd.isna(r) else int(r))
        for l, r in zip(got["left_id"], got["right_id"])
    )
    want_c = collections.Counter(out)
    if got_c == want_c:
        return []
    extra = got_c - want_c
    missing = want_c - got_c
    key = lambda kv: (kv[0][0], -1 if kv[0][1] is None else kv[0][1])  # noqa: E731
    return [
        f"row multiset differs: spark-only={sorted(extra.items(), key=key)[:3]} "
        f"model-only={sorted(missing.items(), key=key)[:3]} "
        f"(spark {sum(got_c.values())} rows, model {sum(want_c.values())})"
    ]


CHECKS = {
    "tumbling": check_tumbling,
    "sliding": check_sliding,
    "session": check_session,
    "dynsession": check_dynsession,
    "dedup": check_dedup,
    "watermark": check_watermark,
    "wmdedup": check_wmdedup,
    "ssjoin": check_ssjoin,
    "lsjoin": check_lsjoin,
}


def run_seed(spark, duck, seed: int, checks=None) -> list[tuple[str, list[str]]]:
    """Run every check for one seed; returns [(check, problems)]."""
    rows = gen_trajectory(seed)
    d = tempfile.mkdtemp(prefix=f"jh_sfz_{seed}_")
    out = []
    try:
        batches = write_arrival_files(rows, d, seed)
        duck.execute(
            f"CREATE OR REPLACE VIEW ev AS "
            f"SELECT * FROM read_parquet('{d}/*.parquet')"
        )
        for name in checks or CHECKS:
            out.append((name, CHECKS[name](spark, duck, d, batches)))
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out


def main() -> None:
    opt = {a.split("=")[0][2:]: a.split("=", 1)[1]
           for a in sys.argv[1:] if a.startswith("--") and "=" in a}
    lo, hi = (int(x) for x in opt.get("seeds", "0:220").split(":"))
    checks = [c.strip() for c in opt.get("checks", "").split(",") if c.strip()] \
        or list(CHECKS)

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")
    import duckdb  # noqa: PLC0415

    from jobhouse_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark(app_name="streaming_fuzz", extra_conf={
        # small keyspaces: batch-sized stateful shuffles are pure
        # state-store overhead (streaming/jobs.pinned_shuffle rationale)
        "spark.sql.shuffle.partitions": "4",
    })
    duck = duckdb.connect()
    duck.execute("SET TimeZone='UTC'")
    # single-threaded oracle: campaign-2 seeds 262/291/313 showed the
    # SAME adjacent-session count-swap from DuckDB only under heavy
    # machine load — the parallel window path's task split is the
    # prime suspect, and threads=1 removes it from the oracle (the
    # data is tiny; determinism is worth more than parallelism here)
    duck.execute("SET threads=1")

    t0 = time.perf_counter()
    n_checks = 0
    mismatches: list[dict] = []
    flaky: list[dict] = []
    for seed in range(lo, hi):
        for name, problems in run_seed(spark, duck, seed, checks):
            n_checks += 1
            if problems:
                # deterministic replay: a REAL semantic divergence
                # reproduces on an immediate same-process rerun (same
                # seed -> same files -> same micro-batches). Campaign-2
                # seed 262/291 'session' mismatches did NOT (8/8 clean
                # solo reruns; Spark's rows matched ground truth, the
                # DUCK side was wrong once under 3-way machine load) —
                # an environmental oracle flake. Retry once and ledger
                # it separately: flaky entries stay visible, real
                # divergences still fail the campaign.
                retry = dict(run_seed(spark, duck, seed, [name]))[name]
                if retry:
                    mismatches.append(
                        {"seed": seed, "check": name, "problems": problems[:3]}
                    )
                    print(f"MISMATCH seed={seed} check={name}: {problems[:1]}")
                else:
                    flaky.append(
                        {"seed": seed, "check": name,
                         "first_attempt": problems[:2]}
                    )
                    print(f"FLAKY (retry clean) seed={seed} check={name}: "
                          f"{problems[:1]}")
        if (seed - lo + 1) % 20 == 0:
            print(f"... {seed - lo + 1}/{hi - lo} seeds, "
                  f"{len(mismatches)} mismatches, "
                  f"{round(time.perf_counter() - t0)}s", flush=True)
    wall = round(time.perf_counter() - t0, 1)

    record = {
        "metric": "streaming_fuzz_campaign",
        "seeds": [lo, hi],
        "trajectories": hi - lo,
        "checks": checks,
        "total_checks": n_checks,
        "mismatches": mismatches,
        **({"flaky_retry_clean": flaky} if flaky else {}),
        "oracle": {c: ("python-model"
                       if c in ("watermark", "wmdedup", "ssjoin", "lsjoin")
                       else "duckdb")
                   for c in checks},
        "wall_s": wall,
    }
    print(json.dumps({k: v for k, v in record.items() if k != "mismatches"}
                     | {"n_mismatches": len(mismatches)}))
    path = opt.get("json")
    if path:
        try:
            with open(path) as f:
                doc = json.load(f)
        except (OSError, ValueError):
            doc = {"campaigns": []}
        doc.setdefault("campaigns", []).append(record)
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
    sys.exit(1 if mismatches else 0)


if __name__ == "__main__":
    main()
