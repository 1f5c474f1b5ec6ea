"""Compaction / clustering payoff measurement (round 11).

s17_compaction_invariance proves `compact_parquet` is content-exact;
this tool measures WHY you run it at 100 TB: a drip-fed layout (many
small unsorted files, every file spanning the full key range) defeats
parquet min/max skipping — every row group overlaps every predicate —
while the range-clustered rewrite gives each file/row-group a disjoint
key slice, so a selective predicate reads a handful of row groups
instead of the whole table.

Method: fragment a table into N small unsorted files, compact with
`compact_parquet(sort_by=key)`, then run the same selective range
predicate against both layouts with AQE off and parquet pushdown on
(defaults), and read the FileSourceScan metrics from the executed
plan: files read, rows the reader actually PRODUCED (post row-group /
page pruning — Spark prunes row groups, it does not skip whole files
on min/max), and wall time. The rows-produced ratio IS the skip ratio.

Usage:
  python tools/compaction_bench.py [sf_dir] [--table=orders]
         [--frag-files=256] [--target-mb=64] [--sel=0.001] [--json=PATH]
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

KEYS = {"orders": "o_orderkey", "lineitem": "l_orderkey", "events": "user_id"}


def _files_bytes(path: str) -> tuple[int, int]:
    n = b = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                n += 1
                b += os.path.getsize(os.path.join(root, f))
    return n, b


def _scan_metrics(df) -> dict:
    """Execute df and pull the FileSourceScan SQLMetrics from ITS plan
    (AQE must be off so executedPlan is the literal physical plan)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan().executeCollect()
    leaves = qe.executedPlan().collectLeaves()
    out: dict = {}
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if "Scan" not in leaf.nodeName():
            continue
        it = leaf.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = kv._2().value()
    return out


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    opt = {a.split("=")[0][2:]: a.split("=", 1)[1]
           for a in sys.argv[1:] if a.startswith("--") and "=" in a}
    table = opt.get("table", "orders")
    frag_files = int(opt.get("frag-files", "256"))
    target_mb = int(opt.get("target-mb", "64"))
    sel = float(opt.get("sel", "0.001"))
    key = KEYS[table]

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "12g")
    from pyspark.sql import functions as F

    from jobhouse_spark.operators.maintenance import compact_parquet
    from jobhouse_spark.session import get_spark
    from jobhouse_spark.tables import Tables

    spark = get_spark(app_name="compaction_bench")

    base = f"/tmp/jh_compact_{os.path.basename(sf_dir.rstrip('/'))}_{table}"
    frag, comp = f"{base}/frag", f"{base}/compacted"
    src = getattr(Tables(spark, sf_dir), table)

    if not os.path.isdir(frag):
        # the drip-feed layout: many small files, each spanning the
        # whole key range (round-robin repartition = worst-case overlap)
        src.repartition(frag_files).write.mode("overwrite").parquet(frag)
    t0 = time.perf_counter()
    compact_parquet(
        spark, frag, comp,
        target_file_bytes=target_mb * 1024 * 1024, sort_by=key,
    )
    compact_wall = round(time.perf_counter() - t0, 1)

    lo, hi = (
        spark.read.parquet(frag)
        .agg(F.min(key), F.max(key)).first()
    )
    span = max(1, int((hi - lo) * sel))
    p_lo = lo + (hi - lo) // 3
    pred = f"{key} BETWEEN {p_lo} AND {p_lo + span}"

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    probe: dict = {"predicate": pred}
    for label, path in (("fragmented", frag), ("compacted", comp)):
        walls, met = [], {}
        for _ in range(3):
            t0 = time.perf_counter()
            df = spark.read.parquet(path).where(pred).agg(
                F.count("*").alias("n"), F.sum(key).alias("s"))
            met = _scan_metrics(df)
            walls.append(round(time.perf_counter() - t0, 3))
        nf, nb = _files_bytes(path)
        probe[label] = {
            "files_on_disk": nf, "bytes_on_disk": nb,
            "files_read": met.get("numFiles"),
            "scan_output_rows": met.get("numOutputRows"),
            "scan_time_ms": met.get("scanTime"),
            "bytes_read": met.get("filesSize"),
            "walls": walls, "wall_median": sorted(walls)[1],
        }
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    fr, co = probe["fragmented"], probe["compacted"]
    summary = {
        "metric": "compaction_bench", "sf_dir": sf_dir, "table": table,
        "table_rows": spark.read.parquet(frag).count(),
        "compact_wall_sec": compact_wall,
        "file_reduction": f"{fr['files_on_disk']} -> {co['files_on_disk']}",
        "rows_scanned_ratio": (
            round(fr["scan_output_rows"] / max(1, co["scan_output_rows"]), 1)
            if fr.get("scan_output_rows") is not None else None
        ),
        "probe": probe,
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
