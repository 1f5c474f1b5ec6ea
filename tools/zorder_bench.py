"""Z-order clustering payoff measurement (round 11).

s18_zorder_invariance proves `zorder_compact` is content-exact; this
tool measures the multi-column pruning claim that justifies it at
100 TB. Three layouts of the same table:

  fragmented — drip-feed sprawl (round-robin files, every file spans
               every dimension: min/max stats prune nothing)
  lex        — compact_parquet(sort_by=col_a): perfect clustering on
               col_a, NONE on col_b (each file still spans all of b)
  zorder     — zorder_compact(cols=[a, b]): Morton-interleaved
               equi-depth bins; every file covers a hyper-rectangle

probed with three selective predicates — col_a alone, col_b alone,
and the conjunction — reading the FileSourceScan metrics (rows the
reader actually produced after row-group pruning) from each executed
plan. The expected signature, and what SCALE.md records:

  predicate on a:    lex ~= zorder >> fragmented
  predicate on b:    zorder >> lex ~= fragmented   <- the Z payoff
  a AND b:           zorder best (prunes in both dimensions)

Usage:
  python tools/zorder_bench.py [sf_dir] [--table=orders]
         [--cols=o_custkey,o_orderkey] [--frag-files=256]
         [--target-mb=64] [--bins=256] [--sel=0.02] [--json=PATH]
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

from tools.compaction_bench import _files_bytes, _scan_metrics  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    opt = {a.split("=")[0][2:]: a.split("=", 1)[1]
           for a in sys.argv[1:] if a.startswith("--") and "=" in a}
    table = opt.get("table", "orders")
    col_a, col_b = opt.get("cols", "o_custkey,o_orderkey").split(",")
    frag_files = int(opt.get("frag-files", "256"))
    target_mb = int(opt.get("target-mb", "64"))
    bins = int(opt.get("bins", "256"))
    sel = float(opt.get("sel", "0.02"))

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "12g")
    from pyspark.sql import functions as F

    from jobhouse_spark.operators.maintenance import compact_parquet, zorder_compact
    from jobhouse_spark.session import get_spark
    from jobhouse_spark.tables import Tables

    spark = get_spark(app_name="zorder_bench")
    # Pruning granularity is the ROW GROUP, not the file — size row
    # groups well below the file target so min/max skipping has slices
    # to work with (the 100 TB default of 128 MB groups in ~1 GB files
    # has the same ~8-16 groups/file shape this reproduces locally).
    rg_bytes = int(float(opt.get("rg-mb", "1")) * 1024 * 1024)
    spark.sparkContext._jsc.hadoopConfiguration().setInt(
        "parquet.block.size", rg_bytes)

    base = f"/tmp/jh_zorder_{os.path.basename(sf_dir.rstrip('/'))}_{table}"
    frag = f"{base}/frag"
    src = getattr(Tables(spark, sf_dir), table)
    if not os.path.isdir(frag):
        src.repartition(frag_files).write.mode("overwrite").parquet(frag)

    walls = {}
    t0 = time.perf_counter()
    compact_parquet(spark, frag, f"{base}/lex",
                    target_file_bytes=target_mb * 1024 * 1024, sort_by=col_a)
    walls["lex_write_sec"] = round(time.perf_counter() - t0, 1)
    t0 = time.perf_counter()
    zorder_compact(spark, frag, f"{base}/zorder", cols=[col_a, col_b],
                   target_file_bytes=target_mb * 1024 * 1024, bins=bins)
    walls["zorder_write_sec"] = round(time.perf_counter() - t0, 1)

    # selective windows at 1/3 into each dimension's range
    rng = spark.read.parquet(frag).agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)).first()
    a_lo = rng[0] + (rng[1] - rng[0]) // 3
    a_hi = a_lo + max(1, int((rng[1] - rng[0]) * sel))
    b_lo = rng[2] + (rng[3] - rng[2]) // 3
    b_hi = b_lo + max(1, int((rng[3] - rng[2]) * sel))
    preds = {
        "a_only": f"{col_a} BETWEEN {a_lo} AND {a_hi}",
        "b_only": f"{col_b} BETWEEN {b_lo} AND {b_hi}",
        "a_and_b": (f"{col_a} BETWEEN {a_lo} AND {a_hi} "
                    f"AND {col_b} BETWEEN {b_lo} AND {b_hi}"),
    }

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    probe: dict = {"predicates": preds}
    for layout in ("frag", "lex", "zorder"):
        path = f"{base}/{layout}"
        nf, nb = _files_bytes(path)
        entry: dict = {"files_on_disk": nf, "bytes_on_disk": nb}
        for pname, pred in preds.items():
            met, pwalls = {}, []
            for _ in range(3):
                t0 = time.perf_counter()
                df = spark.read.parquet(path).where(pred).agg(
                    F.count("*").alias("n"),
                    F.sum(col_a).alias("sa"), F.sum(col_b).alias("sb"))
                met = _scan_metrics(df)
                pwalls.append(round(time.perf_counter() - t0, 3))
            entry[pname] = {
                "scan_output_rows": met.get("numOutputRows"),
                "files_read": met.get("numFiles"),
                "scan_time_ms": met.get("scanTime"),
                "wall_median": sorted(pwalls)[1],
            }
        probe[layout] = entry
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    total_rows = spark.read.parquet(frag).count()

    def ratio(pname, layout):
        r = probe[layout][pname]["scan_output_rows"]
        return round(total_rows / max(1, r), 1) if r is not None else None

    summary = {
        "metric": "zorder_bench", "sf_dir": sf_dir, "table": table,
        "cols": [col_a, col_b], "table_rows": total_rows, **walls,
        # rows-skipped factor (total / produced) per predicate per layout
        "skip_factor": {
            p: {lay: ratio(p, lay) for lay in ("frag", "lex", "zorder")}
            for p in preds
        },
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
