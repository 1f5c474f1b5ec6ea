"""Streaming throughput at scale (VERDICT r7 task #6).

T-family correctness is batch-equivalence; this measures the REAL
micro-batch execution: t2's tumbling-window aggregation as a file
stream over the 30x events layout (60+ part files), driven with
Trigger.AvailableNow, at two maxFilesPerTrigger settings and both
state-store providers (HDFS-backed default vs RocksDB).

maxFilesPerTrigger is THE operational knob for file-stream backfill:
small values bound per-batch state-update size (steady memory, more
batches, more per-batch overhead); large values amortize scheduling
but spike state writes. RocksDB keeps streaming state off-heap —
the provider a 100 TB deployment runs (bounded JVM heap regardless of
key cardinality); here the keyspace is tiny (window x event_type), so
this measures the provider's fixed overhead, not its capacity.

Usage: python tools/streaming_throughput.py [data_dir]
Prints a markdown table + one JSON line (rows/s, batches, wall).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jobhouse_spark.session import get_spark  # noqa: E402
from jobhouse_spark.streaming.jobs import (  # noqa: E402
    _events_stream_dir,
    tumbling_counts,
)
from jobhouse_spark.tables import events_schema, ts_from_nanos  # noqa: E402

DATA_DIR = sys.argv[1] if len(sys.argv) > 1 else "/tmp/jh_scale_30x"
ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def stream_events_opts(spark, sf_dir: str, max_files: int):
    """stream_events (streaming/jobs.py) + the maxFilesPerTrigger knob."""
    return ts_from_nanos(
        spark.readStream.schema(events_schema(sf_dir))
        .format("parquet")
        .option("maxFilesPerTrigger", max_files)
        .load(_events_stream_dir(sf_dir))
    )


def run_case(spark, max_files: int, provider: str) -> dict:
    if provider == "rocksdb":
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
    else:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    agg = tumbling_counts(stream_events_opts(spark, DATA_DIR, max_files))
    t0 = time.perf_counter()
    q = (
        agg.writeStream.outputMode("complete")
        .format("noop")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    progress = q.recentProgress
    # recentProgress is a ring buffer (spark.sql.streaming.
    # numRecentProgressUpdates, raised in main()); if a layout ever
    # produces more batches than it holds, rows/batches would silently
    # undercount — refuse to report a truncated measurement.
    limit = int(spark.conf.get("spark.sql.streaming.numRecentProgressUpdates"))
    assert len(progress) < limit, (
        f"{len(progress)} progress entries hit the {limit} ring-buffer cap; "
        "raise numRecentProgressUpdates for this layout"
    )
    rows = sum(p["numInputRows"] for p in progress)
    batches = sum(1 for p in progress if p["numInputRows"] > 0)
    return {
        "max_files_per_trigger": max_files,
        "state_store": provider,
        "wall_s": round(wall, 2),
        "input_rows": rows,
        "batches": batches,
        "rows_per_s": round(rows / wall),
    }


def main() -> None:
    spark = get_spark(app_name="streaming_throughput")
    # default ring buffer holds 100 progress reports; a 300x-style
    # layout at maxFilesPerTrigger=8 can exceed that (run_case asserts)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up
    cases = [
        run_case(spark, 8, "hdfs"),
        run_case(spark, 64, "hdfs"),
        run_case(spark, 8, "rocksdb"),
        run_case(spark, 64, "rocksdb"),
    ]
    print("\n| maxFilesPerTrigger | state store | batches | input rows | wall s | rows/s |")
    print("|---|---|---|---|---|---|")
    for c in cases:
        print(
            f"| {c['max_files_per_trigger']} | {c['state_store']} | {c['batches']} "
            f"| {c['input_rows']:,} | {c['wall_s']} | {c['rows_per_s']:,} |"
        )
    print(json.dumps({"data_dir": DATA_DIR, "cases": cases}))


if __name__ == "__main__":
    main()
