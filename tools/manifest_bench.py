"""Manifest-planning payoff at FILE-COUNT scale (round 11).

s19 proves manifest_pruned_read content-exact; this measures the
reason it exists: on a many-file table, a selective query through
`spark.read.parquet(root)` pays listing + per-file footer/schema cost
for EVERY file before row-group pruning can help, while the manifest
path filters kilobytes of metadata and opens only the matching files.

Method: fragment a table into N range-clustered files (disjoint key
spans — the best case for BOTH paths, so the delta isolates planning
cost, not data volume), build the manifest once, then run the same
selective aggregate via (a) full-path read + predicate, (b)
manifest_pruned_read. Median-of-3 walls + the planned file count.

`--update=1` adds the incremental-maintenance measurement (round 12):
append a small ingest batch to the fragmented table, then time
`update_manifest` (stats ONLY the batch; old stat rows never transit
the driver) against a full `build_manifest` rebuild, plus the
with-vanish path (delete a few files → broadcast semi-join reconcile).
update ≡ rebuild is asserted distributed (exceptAll both ways).

Usage:
  python tools/manifest_bench.py [sf_dir] [--table=events]
         [--key=event_id] [--files=2000] [--sel=0.001] [--json=PATH]
         [--update=1] [--batch_files=10]
Cores from $SPARK_GRAFT_CPUS (default: all), heap from
$SPARK_DRIVER_MEMORY (default 12g).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    opt = {a.split("=")[0][2:]: a.split("=", 1)[1]
           for a in sys.argv[1:] if a.startswith("--") and "=" in a}
    table = opt.get("table", "events")
    key = opt.get("key", "event_id")
    n_files = int(opt.get("files", "2000"))
    sel = float(opt.get("sel", "0.001"))

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "12g")
    from pyspark.sql import functions as F

    from jobhouse_spark.operators.maintenance import (
        build_manifest,
        manifest_pruned_read,
    )
    from jobhouse_spark.session import get_spark
    from jobhouse_spark.tables import Tables

    spark = get_spark(app_name="manifest_bench")

    base = f"/tmp/jh_manifest_{os.path.basename(sf_dir.rstrip('/'))}_{table}"
    data = f"{base}/clustered"
    src = getattr(Tables(spark, sf_dir), table)
    if not os.path.isdir(data):
        # range-clustered many-file layout: each file a disjoint key span
        (src.repartitionByRange(n_files, key).sortWithinPartitions(key)
            .write.mode("overwrite").parquet(data))

    t0 = time.perf_counter()
    manifest = build_manifest(spark, data, [key])
    manifest = spark.createDataFrame(manifest.collect(), manifest.schema)
    manifest_build_sec = round(time.perf_counter() - t0, 1)
    files_on_disk = manifest.count()

    lo_all, hi_all = spark.read.parquet(data).agg(F.min(key), F.max(key)).first()
    span = max(1, int((hi_all - lo_all) * sel))
    lo = lo_all + (hi_all - lo_all) // 3
    hi = lo + span

    def agg(df):
        return df.where(F.col(key).between(lo, hi)).agg(
            F.count("*").alias("n"), F.sum(key).alias("s")).first()

    results: dict = {}
    for label in ("full_path", "manifest"):
        walls, row = [], None
        for _ in range(3):
            # a fresh reader each repeat; Spark caches FileIndex per
            # path+session, so drop it to charge the real listing cost
            spark.catalog.clearCache()
            spark._jvm.org.apache.spark.sql.execution.datasources \
                .FileStatusCache.resetForTesting()
            t0 = time.perf_counter()
            if label == "full_path":
                row = agg(spark.read.parquet(data))
            else:
                row = agg(manifest_pruned_read(spark, manifest, {key: (lo, hi)}))
            walls.append(round(time.perf_counter() - t0, 3))
        results[label] = {"walls": walls, "wall_median": sorted(walls)[1],
                          "rows": row.n, "sum": row.s}

    assert results["full_path"]["rows"] == results["manifest"]["rows"]
    planned = manifest.filter(
        (F.col(f"{key}_min") <= hi) & (F.col(f"{key}_max") >= lo)).count()
    summary = {
        "metric": "manifest_bench", "sf_dir": sf_dir, "table": table,
        "files_on_disk": files_on_disk, "files_planned": planned,
        "manifest_build_sec": manifest_build_sec,
        "predicate_rows": results["manifest"]["rows"],
        "full_path_wall": results["full_path"]["wall_median"],
        "manifest_wall": results["manifest"]["wall_median"],
        "speedup": round(results["full_path"]["wall_median"]
                         / max(1e-9, results["manifest"]["wall_median"]), 1),
        "detail": results,
    }
    if opt.get("update") == "1":
        from jobhouse_spark.operators.maintenance import update_manifest

        batch_files = int(opt.get("batch_files", "10"))
        # ingest batch: a disjoint-keyed slice re-written as new files
        batch = (src.limit(batch_files * 1000)
                 .withColumn(key, F.col(key) + F.lit(int(hi_all) + 1_000_000)))
        batch.repartition(batch_files).write.mode("append").parquet(data)

        t0 = time.perf_counter()
        upd = update_manifest(spark, data, manifest, [key])
        n_upd = upd.count()
        update_sec = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        reb = build_manifest(spark, data, [key])
        n_reb = reb.count()
        rebuild_sec = round(time.perf_counter() - t0, 2)

        if n_upd != n_reb or upd.exceptAll(reb).count() or reb.exceptAll(upd).count():
            raise RuntimeError(
                f"update != rebuild at {files_on_disk} files "
                f"({n_upd} vs {n_reb} rows)"
            )

        # persist the refreshed manifest (what a real deployment keeps
        # between maintenance runs) so the vanish step reconciles a
        # stored table, not a lazy plan over soon-deleted files
        upd.write.mode("overwrite").parquet(f"{base}/manifest")
        upd = spark.read.parquet(f"{base}/manifest")

        # with-vanish path: drop a few data files, reconcile via the
        # broadcast semi-join (old stat rows stay distributed)
        import glob as _glob
        victims = sorted(_glob.glob(f"{data}/part-*.parquet"))[:3]
        for v in victims:
            os.remove(v)
        t0 = time.perf_counter()
        upd2 = update_manifest(spark, data, upd, [key])
        n_upd2 = upd2.count()
        vanish_update_sec = round(time.perf_counter() - t0, 2)
        if n_upd2 != n_upd - len(victims):
            raise RuntimeError(
                f"vanish reconcile wrong: {n_upd2} rows, expected "
                f"{n_upd - len(victims)}"
            )
        summary["update"] = {
            "batch_files": batch_files,
            "append_update_sec": update_sec,
            "rebuild_sec": rebuild_sec,
            "rebuild_over_update": round(rebuild_sec / max(1e-9, update_sec), 1),
            "vanish_files": len(victims),
            "vanish_update_sec": vanish_update_sec,
            "manifest_rows_final": n_upd2,
        }

    print(json.dumps(summary))
    out = opt.get("json")
    if out:
        with open(out, "w") as f:
            json.dump(summary, f, indent=1)
    if opt.get("keep") != "1":
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
