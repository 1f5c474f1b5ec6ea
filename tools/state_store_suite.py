"""RocksDB vs HDFS-backed state store across the STATEFUL query suite.

Round-8 measured the RocksDB provider only on t2's tumbling window
(SCALE.md, "Streaming micro-batch throughput"). This closes the gap:
the three heaviest stateful shapes run under BOTH providers on a scale
rung, the collected results are hash-compared (the provider must be
invisible to semantics), and wall/throughput is recorded per provider:

  t7b  applyInPandasWithState running count (custom Python state,
       update mode, max-per-key collapse — the registry's checked twin)
  t11  stream-stream inner join with watermarks + 24h range bound
       (two join-state stores, conditional eviction)
  t13s streaming DYNAMIC-gap session windows (15 min after clicks,
       45 min otherwise) — the streaming form of registry t13; its
       per-user rollup is ALSO cross-checked against the batch t13
       registry result, so the streaming session-merge state machine
       is verified against the gaps-and-islands oracle formulation
       under both providers.

The provider is a runtime-settable conf consumed at query START, so one
session runs every case. RocksDB keeps state off-heap — the provider a
100 TB deployment runs (bounded executor heap at any key cardinality);
at this rung's key counts the comparison measures fixed overhead, not
capacity — the semantics equivalence is the load-bearing result.

Usage: python tools/state_store_suite.py [sf_dir] [--json=PATH]
Cores from $SPARK_GRAFT_CPUS (default: all), heap from
$SPARK_DRIVER_MEMORY (default 8g).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


def t13s_streaming(spark, sf_dir):
    """Streaming dynamic-gap session windows, rolled up per user — now
    the REGISTRY entry t13b_dynamic_session_streaming (promoted there
    in round 9 with the t13 batch oracle); kept as an alias so this
    tool's JSON keys stay stable across rounds."""
    from jobhouse_spark.queries.streaming_queries import (
        t13b_dynamic_session_streaming,
    )

    return t13b_dynamic_session_streaming(spark, sf_dir)


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/tmp/jh_scale_30x"
    out = next((a.split("=", 1)[1] for a in sys.argv
                if a.startswith("--json=")), None)

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")
    from jobhouse_spark.queries import all_queries
    from jobhouse_spark.session import get_spark

    spark = get_spark(app_name="state_store_suite")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up

    qs = all_queries()
    cases = {
        "t7b_stateful_count": lambda: qs["t7b_stateful_count_checked"].fn(
            spark, sf_dir),
        "t11_stream_stream_join": lambda: qs["t11_stream_stream_join"].fn(
            spark, sf_dir),
        "t13s_dynamic_session_streaming": lambda: t13s_streaming(spark, sf_dir),
    }

    results = {}
    rows_by = {}
    for name, fn in cases.items():
        row = {}
        for provider in ("hdfs", "rocksdb"):
            if provider == "rocksdb":
                spark.conf.set(PROVIDER_KEY, ROCKSDB)
            else:
                spark.conf.unset(PROVIDER_KEY)
            t0 = time.perf_counter()
            collected = sorted(map(str, fn().collect()))
            wall = time.perf_counter() - t0
            row[provider] = {"wall_s": round(wall, 2), "rows": len(collected)}
            rows_by[(name, provider)] = collected
        row["identical"] = rows_by[(name, "hdfs")] == rows_by[(name, "rocksdb")]
        results[name] = row
        print(f"{name}: hdfs {row['hdfs']['wall_s']}s vs rocksdb "
              f"{row['rocksdb']['wall_s']}s, {row['hdfs']['rows']} rows, "
              f"identical={row['identical']}")
        assert row["identical"], f"{name}: provider changed the RESULT"

    # streaming dynamic session == batch registry t13 (gaps-and-islands
    # oracle formulation) — the cross-paradigm check, once per provider
    batch = sorted(map(str,
                       qs["t13_dynamic_session_window"].fn(spark, sf_dir)
                       .collect()))
    for provider in ("hdfs", "rocksdb"):
        same = rows_by[("t13s_dynamic_session_streaming", provider)] == batch
        results["t13s_dynamic_session_streaming"][f"matches_batch_{provider}"] = same
        print(f"t13s vs batch t13 ({provider}): {same}")
        assert same, f"streaming session ({provider}) != batch t13"

    summary = {"metric": "state_store_suite", "sf_dir": sf_dir,
               "cases": results}
    print(json.dumps(summary))
    if out:
        with open(out, "w") as f:
            json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
