"""Bucketed-layout demonstration on the shuffle-wall queries (q18/q5/q3).

The 1000x ladder showed the single-box knee is the lineitem-side
shuffle in the orderkey join/agg family (SCALE.md: q18/q5/q3 own ALL
the spill). The fix a real deployment applies is AT-REST LAYOUT, not
query tuning: store lineitem and orders bucketed (and sorted) by
orderkey with equal bucket counts, so the orderkey join and the
per-orderkey aggregation are satisfied by the scan's output
partitioning — zero big-side exchange, the s10 mechanism applied to
the actual hot path.

This tool writes that layout once from a scale rung (default 300x,
180M-row lineitem), registers the REMAINING tables as temp views, and
runs the unchanged registry q18/q5/q3 both ways via the Tables
"table:<prefix>" catalog scheme — same query code, different layout —
reporting median-of-3 walls and final-plan Exchange counts.

At 100 TB the bucketed write is amortized across every downstream run
(TPC-H-style marts re-read lineitem constantly); the one-time cost is
reported, not hidden.

Usage: python tools/bucket_bench.py [sf_dir] [--buckets=64] [--reuse]
                                    [--queries=q18,q5] [--json=PATH]
Cores from $SPARK_GRAFT_CPUS (default: all), heap from
$SPARK_DRIVER_MEMORY (default 12g).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BUCKETED = {"lineitem": "l_orderkey", "orders": "o_orderkey"}
VIEWS = ("customer", "supplier", "part", "nation", "region")
QUERIES = ("q3_shipping_priority", "q5_local_supplier_volume",
           "q18_large_volume_customer")
PREFIX = "jhbkt_"


def _exchanges(df, spark=None) -> dict[str, int]:
    """Exchange / ReusedExchange counts in the FINAL (post-AQE) plan.

    The timed action is a noop WRITE, which runs under its own
    QueryExecution — df's own AdaptiveSparkPlan is never finalized by
    it, so reading df.queryExecution() directly would report the
    INITIAL plan's exchanges (pre-AQE coalescing/reuse). Primary path:
    read the noop write's OWN finalized plan back from the
    SQLAppStatusStore (the UI listener keeps the formatted plan
    description current through AQE re-plans) — zero re-execution.
    Fallback (store empty / plan never finalized): re-execute df's own
    QueryExecution and read it, the round-9 method — costs a second
    full run on slow queries, so it is only a fallback."""
    import re  # noqa: PLC0415

    if spark is not None:
        for _ in range(50):  # listener queue is async — wait it out
            store = spark._jsparkSession.sharedState().statusStore()
            execs = store.executionsList()
            if execs.isEmpty():
                break
            desc = execs.last().physicalPlanDescription()
            if "isFinalPlan=false" not in desc:
                # formatted-mode detail headers: "(4) Exchange",
                # "(6) BroadcastExchange", "(8) ReusedExchange [...]" —
                # one per node (tree lines like "+- Exchange (4)" would
                # double-count). Verified identical to the simple-mode
                # count on the same plans.
                lines = desc.splitlines()
                fresh = sum(
                    1 for ln in lines
                    if re.match(r"^\(\d+\) (?:Broadcast)?Exchange\s*$", ln)
                )
                reused = sum(
                    1 for ln in lines
                    if re.match(r"^\(\d+\) ReusedExchange\b", ln)
                )
                return {"exchange": fresh, "reused": reused}
            time.sleep(0.1)
    qe = df._jdf.queryExecution()
    qe.executedPlan().executeCollect()  # finalize AQE on THIS QueryExecution
    plan = qe.executedPlan().toString()
    assert "isFinalPlan=false" not in plan, "AQE plan still not finalized"
    fresh = sum(1 for ln in plan.splitlines()
                if "Exchange" in ln and "ReusedExchange" not in ln)
    reused = sum(1 for ln in plan.splitlines() if "ReusedExchange" in ln)
    return {"exchange": fresh, "reused": reused}


def _child_session(sf_dir: str, base: str, buckets: int, layout: str):
    """Fresh-JVM session with the requested layout registered; returns
    (spark, loc). Bucketed re-attaches the ALREADY-WRITTEN layout as
    external CLUSTERED BY tables (bucket ids live in the part-file
    names, so the spec survives the original session)."""
    from jobhouse_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark(app_name="bucket_bench_child",
                      extra_conf={"spark.sql.warehouse.dir": base + "_wh"})
    if layout == "unbucketed":
        return spark, sf_dir
    for tbl, key in BUCKETED.items():
        loc = f"{base}/{tbl}"
        ddl = spark.read.parquet(loc)._jdf.schema().toDDL()
        spark.sql(f"DROP TABLE IF EXISTS {PREFIX}{tbl}")
        spark.sql(
            f"CREATE TABLE {PREFIX}{tbl} ({ddl}) USING parquet "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {buckets} BUCKETS LOCATION '{loc}'"
        )
    for tbl in VIEWS:
        spark.read.parquet(os.path.join(sf_dir, f"{tbl}.parquet")) \
            .createOrReplaceTempView(f"{PREFIX}{tbl}")
    return spark, f"table:{PREFIX}"


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/tmp/jh_scale_300x"
    buckets = int(next((a.split("=")[1] for a in sys.argv
                        if a.startswith("--buckets=")), "64"))
    reuse = "--reuse" in sys.argv
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "12g")
    isolate = "--isolate" in sys.argv
    run_one = next((a.split("=", 1)[1] for a in sys.argv
                    if a.startswith("--run-one=")), None)

    if run_one:
        # CHILD: one (query, layout) execution in this fresh JVM —
        # median-of-3 in one long-lived 1000x JVM is contaminated by
        # cross-repeat state (shuffle files, heap churn: measured
        # round 10, bucketed q3 16.5 s repeat-1 vs 44 s repeat-3), so
        # --isolate runs every repeat here instead
        qname, layout = run_one.split(":")
        base = f"/tmp/jh_bkt_{os.path.basename(sf_dir.rstrip('/'))}_{buckets}"
        from jobhouse_spark.queries import all_queries  # noqa: PLC0415

        spark, loc = _child_session(sf_dir, base, buckets, layout)
        spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up
        t0 = time.perf_counter()
        df = all_queries()[qname].fn(spark, loc)
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        print("BKTCHILD " + json.dumps(
            {"query": qname, "layout": layout,
             "wall": round(wall, 2), **_exchanges(df, spark)}))
        return
    out = next((a.split("=", 1)[1] for a in sys.argv
                if a.startswith("--json=")), None)
    only = next((a.split("=", 1)[1].split(",") for a in sys.argv
                 if a.startswith("--queries=")), None)
    write_only = "--write-only" in sys.argv  # materialize layout, skip bench
    queries = (QUERIES if only is None
               else [q for q in QUERIES if any(q.startswith(p) for p in only)])
    if only is not None:
        # patterns matching none of the default trio fall through as
        # literal registry names — any orderkey-family query can be
        # driven through the layout comparison (validated on lookup)
        matched = {p for p in only for q in QUERIES if q.startswith(p)}
        queries += [p for p in only if p not in matched]
    if only is not None and not queries and not write_only:
        raise SystemExit(f"--queries matched nothing in {QUERIES}")
    if only is not None and not write_only:
        # fail fast on typos BEFORE the (expensive) layout write: every
        # fall-through name must be a real registry entry
        from jobhouse_spark.queries import all_queries as _aq  # noqa: PLC0415

        unknown = [q for q in queries if q not in _aq()]
        if unknown:
            raise SystemExit(f"--queries names not in registry: {unknown}")
    if write_only:
        queries = []

    from jobhouse_spark.queries import all_queries
    from jobhouse_spark.session import get_spark

    base = f"/tmp/jh_bkt_{os.path.basename(sf_dir.rstrip('/'))}_{buckets}"
    spark = get_spark(app_name="bucket_bench",
                      extra_conf={"spark.sql.warehouse.dir": base + "_wh"})

    write_walls = {}
    for tbl, key in BUCKETED.items():
        ident = f"{PREFIX}{tbl}"
        if reuse and os.path.isdir(f"{base}/{tbl}"):
            # layout already on disk (possibly from another session,
            # where the saveAsTable catalog entry died): re-attach it
            # as an external bucketed table for this session's compare
            if not spark.catalog.tableExists(ident):
                ddl = spark.read.parquet(f"{base}/{tbl}")._jdf.schema().toDDL()
                spark.sql(
                    f"CREATE TABLE {ident} ({ddl}) USING parquet "
                    f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                    f"INTO {buckets} BUCKETS LOCATION '{base}/{tbl}'"
                )
            continue
        if reuse and spark.catalog.tableExists(ident):
            continue
        spark.sql(f"DROP TABLE IF EXISTS {ident}")
        t0 = time.perf_counter()
        (
            spark.read.parquet(os.path.join(sf_dir, f"{tbl}.parquet"))
            # pre-shuffle into bucket-aligned partitions so each bucket
            # is ONE file, not one-per-input-task (the small-files trap)
            .repartition(buckets, key)
            .write.mode("overwrite")
            .option("path", f"{base}/{tbl}")
            .bucketBy(buckets, key)
            .sortBy(key)
            .saveAsTable(ident)
        )
        write_walls[tbl] = round(time.perf_counter() - t0, 1)
    for tbl in VIEWS:
        spark.read.parquet(os.path.join(sf_dir, f"{tbl}.parquet")) \
            .createOrReplaceTempView(f"{PREFIX}{tbl}")

    qs = all_queries()
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up

    results = {}
    for name in queries:
        row = {}
        for label, loc in (("unbucketed", sf_dir), ("bucketed", f"table:{PREFIX}")):
            walls = []
            exch = {}
            df = None
            if isolate:
                # one fresh JVM per REPEAT: a long-lived 1000x JVM
                # contaminates later repeats (shuffle-file and heap
                # churn survive System.gc(); measured round 10 —
                # bucketed q3 16.5 s repeat 1 vs 44 s repeat 3), and
                # the page cache (the resource that SHOULD stay warm)
                # lives in the kernel, not the JVM, so it carries over
                import subprocess  # noqa: PLC0415

                for _ in range(3):
                    proc = subprocess.run(
                        [sys.executable, os.path.abspath(__file__), sf_dir,
                         f"--buckets={buckets}", f"--run-one={name}:{label}"],
                        capture_output=True, text=True, timeout=3600,
                    )
                    line = next((ln for ln in proc.stdout.splitlines()
                                 if ln.startswith("BKTCHILD ")), None)
                    if line is None:
                        raise SystemExit(
                            f"child {name}:{label} died rc={proc.returncode}:\n"
                            + "\n".join(proc.stderr.splitlines()[-10:]))
                    rec = json.loads(line[len("BKTCHILD "):])
                    walls.append(rec["wall"])
                    exch = {"exchange": rec["exchange"], "reused": rec["reused"]}
            else:
                for _ in range(3):
                    spark.sparkContext._jvm.System.gc()  # see bench.py docstring
                    t0 = time.perf_counter()
                    df = qs[name].fn(spark, loc)
                    df.write.format("noop").mode("overwrite").save()
                    walls.append(time.perf_counter() - t0)
                exch = _exchanges(df, spark)
            row[label] = {
                "wall_median": round(statistics.median(walls), 2),
                "walls": [round(w, 2) for w in walls],
                **exch,
            }
        row["speedup"] = round(
            row["unbucketed"]["wall_median"] / row["bucketed"]["wall_median"], 2
        )
        # layout must be invisible to semantics: identical sorted rows
        # (q3/q18 are LIMIT-ed with total-order sorts; q5 is tiny)
        a = sorted(map(str, qs[name].fn(spark, sf_dir).collect()))
        b = sorted(map(str, qs[name].fn(spark, f"table:{PREFIX}").collect()))
        row["results_identical"] = a == b
        if a != b:
            print(f"MISMATCH {name}: bucketed result differs from unbucketed")
        results[name] = row
        print(f"{name}: unbucketed {row['unbucketed']['wall_median']}s "
              f"({row['unbucketed']['exchange']} exch) vs bucketed "
              f"{row['bucketed']['wall_median']}s "
              f"({row['bucketed']['exchange']} exch) = {row['speedup']}x")

    summary = {"metric": "bucket_bench", "sf_dir": sf_dir, "buckets": buckets,
               "bucketed_write_walls": write_walls, "queries": results}
    print(json.dumps(summary))
    if out:
        with open(out, "w") as f:
            json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
