"""High-cardinality stateful stress: RocksDB vs HDFS when state is BIG.

The 30x state_store_suite runs ~1,500 user keys — trivial state, so it
proves provider EQUIVALENCE but measures only fixed overhead. This rung
regenerates events with the key space itself scaled (make_scale_data
--also-offset=events:user_id: factor x 1,500 distinct users — 1M+ at
factor 700) and runs the two user-keyed stateful shapes under both
providers:

  t7b   applyInPandasWithState running count per user
        (custom Python state, update mode)
  t13w  streaming dynamic-gap session windows per user in the
        WATERMARKED APPEND form (the state-bounded production shape:
        finalized sessions append once, open-session state only) —
        append-mode drops of later-than-watermark events depend on the
        file replay order, which is identical for both providers, so
        the outputs stay digest-comparable across providers (they are
        NOT compared to a batch oracle; that is t13/t13b's job)

For each case x provider it records wall, batch count, max/mean batch
duration, and the state store's own telemetry (numRowsTotal,
memoryUsedBytes) — the capacity argument made with MEASUREMENTS.
Results must be digest-identical across providers; the running count is
additionally checked against the batch groupBy ground truth.

Each (case, provider) runs in its OWN JVM (subprocess): a state-store
heap OOM in local mode kills executor threads and poisons the
SparkContext, so in-process sequencing would turn one provider's
capacity failure into a harness crash for every later case. A child
that dies still yields a row — "failed" with the captured reason — and
the sweep continues (the failure IS the measurement at this rung).

Build the corpus first:
  python tools/make_scale_data.py /root/testdata/sf0.1 /tmp/jh_scale_hc \
      700 --tables=events --also-offset=events:user_id

Usage: python tools/state_cardinality_stress.py [data_dir]
           [--max-files=100] [--json=PATH] [--cases=t7b,t13w]
Cores from $SPARK_GRAFT_CPUS (default: all), heap of every child JVM
from $SPARK_DRIVER_MEMORY (default 14g).

Crash-recovery mode (round 11): kill a run MID-STREAM after batch N
commits, restart from the checkpoint, and assert the recovered output
is digest-identical to an uninterrupted control run:

  python tools/state_cardinality_stress.py /tmp/jh_scale_hc \
      --crash=t7b:rocksdb:4 [--max-files=100] [--json=PATH]

The sink is foreachBatch -> parquet partitioned by batch_id with
dynamic partition overwrite — the idempotent-sink recipe: a batch
replayed after restart overwrites its own partition, so the recovered
table has exactly-once semantics end to end. The kill is os._exit
inside the child (no cleanup, no stop()) — a genuine process death
with the state store mid-flight, not a graceful stop.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DATA_DIR = next((a for a in sys.argv[1:] if not a.startswith("--")),
                "/tmp/jh_scale_hc")
ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
CASES = {"t7b": "t7b_running_count", "t13w": "t13w_session_append"}


def _running_count(events):
    """The t7b shape: per-user running count via applyInPandasWithState
    (update mode; max-per-key collapse happens on the sink table)."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    out_schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("n", T.LongType())]
    )
    state_schema = T.StructType([T.StructField("n", T.LongType())])

    def count_fn(key, pdf_iter, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

    return events.select("user_id").groupBy("user_id").applyInPandasWithState(
        count_fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def _session_append(events):
    """The t13w shape: dynamic-gap session windows per user, watermarked
    append mode — sessions leave the state store once finalized."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    gap = F.expr(
        "CASE WHEN event_type = 'click' THEN make_interval(0,0,0,0,0,15,0) "
        "ELSE make_interval(0,0,0,0,0,45,0) END"
    )
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("s"),
            "user_id",
            "n_events",
        )
    )


def _state_metrics(progress_list) -> dict:
    """Aggregate stateOperators telemetry across a run's progress."""
    rows = mem = 0
    batch_ms = []
    for p in progress_list:
        batch_ms.append(p["durationMs"].get("triggerExecution", 0))
        for so in p.get("stateOperators") or []:
            rows = max(rows, so.get("numRowsTotal", 0))
            mem = max(mem, so.get("memoryUsedBytes", 0))
    return {
        "batches": len(progress_list),
        "max_batch_s": round(max(batch_ms) / 1000, 2) if batch_ms else None,
        "mean_batch_s": round(sum(batch_ms) / len(batch_ms) / 1000, 2)
        if batch_ms else None,
        "state_rows_max": rows,
        "state_mem_bytes_max": mem,
    }


def child(case: str, provider: str, max_files: int) -> None:
    """One (case, provider) run in this JVM; prints ONE JSON line."""
    from pyspark.sql import functions as F

    from jobhouse_spark.session import get_spark
    from jobhouse_spark.streaming.jobs import _events_stream_dir
    from jobhouse_spark.tables import events_schema, ts_from_nanos

    spark = get_spark(app_name=f"hc_stress_{case}_{provider}", extra_conf={
        "spark.sql.streaming.numRecentProgressUpdates": "400",
        # update-mode memory sink materializes ~n_users rows per batch
        # to the driver — harness plumbing, not the measured path
        "spark.driver.maxResultSize": "4g",
    })
    if provider == "rocksdb":
        spark.conf.set(PROVIDER_KEY, ROCKSDB)

    events = ts_from_nanos(
        spark.readStream.schema(events_schema(DATA_DIR))
        .format("parquet")
        .option("maxFilesPerTrigger", max_files)
        .load(_events_stream_dir(DATA_DIR))
    )

    shape, mode = (
        (_running_count, "update") if case == "t7b" else (_session_append, "append")
    )
    sink = f"jh_hc_{case}_{provider}"
    t0 = time.perf_counter()
    q = (
        shape(events)
        .writeStream.outputMode(mode)
        .format("memory")
        .queryName(sink)
        .start()
    )
    failure = None
    try:
        q.processAllAvailable()
    except Exception as exc:  # noqa: BLE001 — provider capacity failure
        # IS the measurement at this rung, not a harness bug
        msg = str(exc)
        failure = ("OutOfMemoryError: Java heap space" if "OutOfMemory" in msg
                   else msg.splitlines()[0][:300])
    finally:
        progress = [json.loads(p.json) for p in q.recentProgress]
        try:
            q.stop()
            q.awaitTermination()
        except Exception:  # noqa: BLE001,S110 — re-raises the captured error
            pass
    wall = time.perf_counter() - t0
    out = {"case": case, "provider": provider,
           "wall_s": round(wall, 1), **_state_metrics(progress)}
    if failure:
        out["failed"] = failure
    else:
        tbl = spark.table(sink)
        if case == "t7b":
            # update mode re-emits a key per batch: collapse to the
            # final (max — counts are monotone) value per key
            tbl = tbl.groupBy("user_id").agg(F.max("n").alias("n"))
        # digest instead of a 1M-row collect: count + an exact
        # order-insensitive hash sum (DECIMAL(38,0) accumulation — a
        # bare SUM of 1M+ random int64 hashes overflows long under ANSI)
        d = tbl.select(
            F.count("*").alias("rows"),
            F.sum(F.xxhash64(*tbl.columns).cast("decimal(38,0)")).alias("h"),
        ).first()
        out["result_rows"] = int(d.rows)
        out["digest"] = [int(d.rows), str(d.h)]
        if case == "t7b":
            from jobhouse_spark.tables import Tables  # noqa: PLC0415

            batch = Tables(spark, DATA_DIR).events.groupBy("user_id").agg(
                F.count("*").alias("n")
            )
            bd = batch.select(
                F.count("*").alias("rows"),
                F.sum(F.xxhash64("user_id", "n").cast("decimal(38,0)")).alias("h"),
            ).first()
            out["matches_batch"] = [int(bd.rows), str(bd.h)] == out["digest"]
    print("HCSTRESS " + json.dumps(out))


def _crash_child(case: str, provider: str, max_files: int,
                 root: str, kill_batch: int | None) -> None:
    """One crash-recovery leg: run `case` with a durable foreachBatch
    parquet sink + checkpoint under `root`; if kill_batch is set,
    os._exit(137) as soon as that many batches have committed (the
    next batch is typically in flight — an abrupt mid-stream death).
    Prints CRASHCHILD json when it survives to completion."""
    from pyspark.sql import functions as F

    from jobhouse_spark.session import get_spark
    from jobhouse_spark.tables import events_schema, ts_from_nanos

    # STABLE stream-source dir shared by every leg of one crash test:
    # the checkpoint's seen-files log records absolute paths, so the
    # restart must observe the SAME source path as the killed run (the
    # per-process tempdir of _events_stream_dir would make every file
    # look new after recovery -> double-processing)
    stream_src = os.path.join(os.path.dirname(root.rstrip("/")), "stream_src")
    if not os.path.isdir(stream_src):
        os.makedirs(stream_src, exist_ok=True)
        src = os.path.join(DATA_DIR, "events.parquet")
        if os.path.isdir(src):
            for f in sorted(os.listdir(src)):
                if f.endswith(".parquet"):
                    os.symlink(os.path.join(src, f),
                               os.path.join(stream_src, f))
        else:
            os.symlink(src, os.path.join(stream_src, "events.parquet"))

    spark = get_spark(
        app_name=f"hc_crash_{case}_{provider}",
        extra_conf={"spark.sql.sources.partitionOverwriteMode": "dynamic"},
    )
    if provider == "rocksdb":
        spark.conf.set(PROVIDER_KEY, ROCKSDB)

    events = ts_from_nanos(
        spark.readStream.schema(events_schema(DATA_DIR))
        .format("parquet")
        .option("maxFilesPerTrigger", max_files)
        .load(stream_src)
    )

    shape, mode = (
        (_running_count, "update") if case == "t7b" else (_session_append, "append")
    )
    out_dir = f"{root}/out"

    def write_batch(df, epoch_id):
        # idempotent by construction: each epoch owns its batch_id
        # partition; a post-restart replay overwrites it exactly
        (df.withColumn("batch_id", F.lit(int(epoch_id)))
           .write.mode("overwrite").partitionBy("batch_id").parquet(out_dir))

    q = (
        shape(events)
        .writeStream.outputMode(mode)
        .option("checkpointLocation", f"{root}/ckpt")
        .foreachBatch(write_batch)
        .start()
    )
    if kill_batch is not None:
        while True:
            lp = q.lastProgress
            if lp is not None and lp["batchId"] >= kill_batch:
                os._exit(137)  # noqa: SLF001 — the crash IS the test
            if not q.isActive:
                raise SystemExit(
                    f"stream finished before batch {kill_batch} — corpus too "
                    f"small for this kill point; lower --kill-batch/--max-files"
                )
            time.sleep(0.05)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    print("CRASHCHILD " + json.dumps({"case": case, "provider": provider,
                                      "root": root, "completed": True}))


def _crash_digest(case: str, root: str, data_dir: str) -> dict:
    """Digest of a finished crash-leg output table (fresh tiny JVM)."""
    from pyspark.sql import functions as F

    from jobhouse_spark.session import get_spark

    spark = get_spark(app_name="hc_crash_digest")
    tbl = spark.read.parquet(f"{root}/out")
    if case == "t7b":
        # update mode re-emits per batch: final value is the max
        # (counts are monotone); state loss would deflate it,
        # double-processing would inflate it
        tbl = tbl.groupBy("user_id").agg(F.max("n").alias("n"))
        cols = ["user_id", "n"]
    else:
        cols = ["s", "user_id", "n_events"]  # batch_id excluded: the
        # crash changes which post-restart batch finalizes a session
    d = tbl.select(
        F.count("*").alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    out = {"rows": int(d.rows), "digest": [int(d.rows), str(d.h)]}
    if case == "t7b":
        from jobhouse_spark.tables import Tables  # noqa: PLC0415

        batch = Tables(spark, data_dir).events.groupBy("user_id").agg(
            F.count("*").alias("n"))
        bd = batch.select(
            F.count("*").alias("rows"),
            F.sum(F.xxhash64("user_id", "n").cast("decimal(38,0)")).alias("h"),
        ).first()
        out["matches_batch"] = [int(bd.rows), str(bd.h)] == out["digest"]
    spark.stop()
    return out


def run_crash_recovery(case: str, provider: str, kill_batch: int,
                       max_files: int) -> dict:
    """Control run / killed run / recovery run, each its own JVM;
    asserts recovered == control."""
    import shutil  # noqa: PLC0415

    base = f"/tmp/jh_hc_crash_{case}_{provider}"
    shutil.rmtree(base, ignore_errors=True)

    def leg(root: str, kill: int | None, label: str) -> subprocess.CompletedProcess:
        argv = [sys.executable, os.path.abspath(__file__), DATA_DIR,
                f"--crash-child={case}:{provider}", f"--root={root}",
                f"--max-files={max_files}"]
        if kill is not None:
            argv.append(f"--kill-batch={kill}")
        t0 = time.perf_counter()
        proc = subprocess.run(argv, capture_output=True, text=True,
                              timeout=3600)
        proc.wall = round(time.perf_counter() - t0, 1)  # type: ignore[attr-defined]
        print(f"  {label}: rc={proc.returncode} wall={proc.wall}s")
        return proc

    control = leg(f"{base}/control", None, "control (uninterrupted)")
    assert control.returncode == 0 and "CRASHCHILD" in control.stdout, (
        "control leg failed:\n" + "\n".join(control.stderr.splitlines()[-10:]))

    crashed = leg(f"{base}/crash", kill_batch, f"kill after batch {kill_batch}")
    assert crashed.returncode == 137, (
        f"kill leg was supposed to die with rc=137, got {crashed.returncode}")

    recovered = leg(f"{base}/crash", None, "restart from checkpoint")
    assert recovered.returncode == 0 and "CRASHCHILD" in recovered.stdout, (
        "recovery leg failed:\n" + "\n".join(recovered.stderr.splitlines()[-10:]))

    dig_control = _crash_digest(case, f"{base}/control", DATA_DIR)
    dig_recover = _crash_digest(case, f"{base}/crash", DATA_DIR)
    identical = dig_control["digest"] == dig_recover["digest"]
    result = {
        "case": case, "provider": provider, "kill_after_batch": kill_batch,
        "control": dig_control, "recovered": dig_recover,
        "identical": identical,
        "walls": {"control": control.wall, "crashed": crashed.wall,
                  "recovered": recovered.wall},
    }
    assert identical, f"crash recovery diverged: {result}"
    shutil.rmtree(base, ignore_errors=True)
    return result


def main() -> None:
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "14g")
    out_path = next((a.split("=", 1)[1] for a in sys.argv
                     if a.startswith("--json=")), None)
    max_files = int(next((a.split("=")[1] for a in sys.argv
                          if a.startswith("--max-files=")), "100"))
    one = next((a.split("=", 1)[1] for a in sys.argv
                if a.startswith("--one=")), None)
    if one:
        child(*one.split(":"), max_files)
        return
    crash_child_arg = next((a.split("=", 1)[1] for a in sys.argv
                            if a.startswith("--crash-child=")), None)
    if crash_child_arg:
        root = next(a.split("=", 1)[1] for a in sys.argv
                    if a.startswith("--root="))
        kb = next((int(a.split("=")[1]) for a in sys.argv
                   if a.startswith("--kill-batch=")), None)
        _crash_child(*crash_child_arg.split(":"), max_files, root, kb)
        return
    crash = next((a.split("=", 1)[1] for a in sys.argv
                  if a.startswith("--crash=")), None)
    if crash:
        case, provider, kill_n = crash.split(":")
        summary = {"metric": "state_crash_recovery",
                   "corpus": DATA_DIR, "max_files_per_trigger": max_files,
                   **run_crash_recovery(case, provider, int(kill_n), max_files)}
        print(json.dumps(summary))
        if out_path:
            with open(out_path, "w") as f:
                json.dump(summary, f, indent=1)
        return
    only = next((a.split("=", 1)[1].split(",") for a in sys.argv
                 if a.startswith("--cases=")), ["t7b", "t13w"])

    results: dict = {"corpus": DATA_DIR, "max_files_per_trigger": max_files,
                     "driver_mem": os.environ["SPARK_DRIVER_MEMORY"], "cases": {}}
    for case in only:
        name = CASES[case]
        row: dict = {}
        for provider in ("hdfs", "rocksdb"):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), DATA_DIR,
                 f"--one={case}:{provider}", f"--max-files={max_files}"],
                capture_output=True, text=True, timeout=3600,
            )
            line = next((ln for ln in proc.stdout.splitlines()
                         if ln.startswith("HCSTRESS ")), None)
            if line:
                row[provider] = json.loads(line[len("HCSTRESS "):])
            else:
                tail = (proc.stderr or proc.stdout).splitlines()[-15:]
                oom = any("OutOfMemory" in ln for ln in tail) or any(
                    "OutOfMemory" in ln for ln in proc.stderr.splitlines())
                row[provider] = {
                    "failed": "OutOfMemoryError: Java heap space (JVM died)"
                    if oom else f"child exited rc={proc.returncode}",
                }
            r = row[provider]
            print(f"{name} [{provider}]: "
                  + (f"FAILED: {r['failed']}" if "failed" in r else
                     f"{r['wall_s']}s, {r['batches']} batches, "
                     f"state_rows={r['state_rows_max']}, "
                     f"state_mem={r['state_mem_bytes_max']}, "
                     f"rows={r['result_rows']}"))
        if all("digest" in row[p] for p in ("hdfs", "rocksdb")):
            row["identical"] = row["hdfs"]["digest"] == row["rocksdb"]["digest"]
            assert row["identical"], f"{name}: providers disagree"
        results["cases"][name] = row

    summary = {"metric": "state_cardinality_stress", **results}
    print(json.dumps(summary))
    if out_path:
        with open(out_path, "w") as f:
            json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
