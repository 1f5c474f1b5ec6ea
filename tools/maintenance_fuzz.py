"""Table-lifecycle trajectory fuzzing (round 12).

cdc_fuzz.py fuzzes the stateful MERGE surface; this one fuzzes the
table MAINTENANCE surface — seeded random sequences of
ingest-batch / compact / zorder / update-manifest / vacuum over a
day-partitioned parquet table, asserting after EVERY step that

  1. the table's content multiset equals an independently-maintained
     Python model of the surviving rows (no shared code with the
     operators — the model is a Counter of tuples mutated by the
     trajectory generator itself),
  2. DuckDB's view of the same files (hive_partitioning read — a
     second, foreign reader) agrees with the model,
  3. a manifest-pruned range read equals the full scan with the same
     predicate (manifest maintained incrementally by update_manifest
     after every file-changing step — the staleness interplay where
     lifecycle bugs hide),
  4. periodically, update ≡ rebuild (the incrementally-maintained
     manifest equals a from-scratch build_manifest).

This generalizes round 11's single committed interaction test
(manifest upkeep after vacuum) to the whole operator product space.

Ops per step (seeded random):
  ingest  — append N rows over a random day window
            (write.partitionBy("day").mode("append"))
  compact — in-place per-day-partition compact_parquet (rewrite one
            day's files to the byte-planned count)
  zorder  — in-place per-day-partition zorder_compact on (a, b)
  vacuum  — vacuum_partitions at a cutoff chosen among live days
  merge   — incremental_merge (round 13, VERDICT r12 task 6): CDC
            upserts (updates of live keys + brand-new keys) and
            deletes (live keys, occasionally a WHOLE day, sometimes
            the same key as an upsert — delete wins, and some no-op
            absent keys) applied through the day-partition dynamic
            overwrite; the emptied-day clear and the rewritten
            partitions interact with the persisted manifest exactly
            where a stale manifest row would hide
  (update_manifest runs after every op; build_manifest comparison
   every few steps)

Usage:
  python tools/maintenance_fuzz.py [--trajectories=200] [--steps=8]
                                   [--seed0=120000] [--json=PATH]
Cores from $SPARK_GRAFT_CPUS (default: all), heap from
$SPARK_DRIVER_MEMORY (default 8g).
"""

from __future__ import annotations

import collections
import concurrent.futures
import glob
import json
import os
import random
import shutil
import sys
import tempfile
import threading
import time
from datetime import date, timedelta

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

DAY0 = date(2024, 3, 1)
N_DAYS = 10  # ingest window; vacuum cutoffs fall inside it


def _days(rng: random.Random, k: int) -> list[str]:
    return [(DAY0 + timedelta(days=rng.randrange(N_DAYS))).isoformat()
            for _ in range(k)]


def make_batch(rng: random.Random, next_id: int, n: int):
    """Rows (id, a, b, day): ints + ISO day string."""
    days = _days(rng, n)
    return [(next_id + i, rng.randrange(1000), rng.randrange(1000), days[i])
            for i in range(n)]


def run_trajectory(spark, seed: int, n_steps: int, stats: dict) -> None:
    from pyspark.sql import functions as F

    from jobhouse_spark.operators.incremental import incremental_merge
    from jobhouse_spark.operators.maintenance import (
        build_manifest,
        compact_parquet,
        manifest_pruned_read,
        update_manifest,
        vacuum_partitions,
        zorder_compact,
    )

    rng = random.Random(seed)
    duck_con = duckdb.connect()
    base = tempfile.mkdtemp(prefix=f"jh_mfuzz_{seed}_")
    root = f"{base}/t"
    model: collections.Counter = collections.Counter()  # (id,a,b,day) -> n
    next_id = 0
    manifest = None

    def write_batch(rows) -> None:
        df = spark.createDataFrame(rows, "id long, a long, b long, day string")
        df.write.partitionBy("day").mode("append").parquet(root)

    def live_days() -> list[str]:
        return sorted({d for (_, _, _, d) in model})

    def spark_read():
        return spark.read.parquet(root)

    def check_content(step: str) -> None:
        got = collections.Counter(
            (r.id, r.a, r.b, r.day)
            # cast: under partition-type inference day reads as DATE;
            # the model is ISO strings — a type difference is not a
            # content divergence (works under any caller's session)
            for r in spark_read().select(
                "id", "a", "b", F.col("day").cast("string").alias("day")
            ).collect()
        )
        if got != model:
            raise AssertionError(
                f"seed={seed} step={step}: Spark content diverged from "
                f"model ({sum(got.values())} vs {sum(model.values())} rows; "
                f"e.g. {list((got - model).items())[:3]} extra, "
                f"{list((model - got).items())[:3]} missing)"
            )
        # second derivation: a FOREIGN reader over the same bytes
        # (per-trajectory connection — the module-level default
        # connection is not safe under the thread pool)
        duck = collections.Counter(
            (r[0], r[1], r[2], r[3])
            for r in duck_con.sql(
                # DuckDB also type-infers the partition value to DATE;
                # cast back to the model's ISO string
                f"SELECT id, a, b, CAST(day AS VARCHAR) FROM read_parquet("
                f"'{root}/*/*.parquet', hive_partitioning=1)"
            ).fetchall()
        )
        if duck != model:
            raise AssertionError(
                f"seed={seed} step={step}: DuckDB content diverged "
                f"({sum(duck.values())} vs {sum(model.values())} rows)"
            )

    def check_manifest(step: str) -> None:
        nonlocal manifest
        manifest = update_manifest(spark, root, manifest, ["a"]) \
            if manifest is not None else build_manifest(spark, root, ["a"])
        # materialize: a persisted manifest, not a lazy plan over files
        # a later step may rewrite
        manifest = spark.createDataFrame(
            manifest.collect(), manifest.schema
        )
        lo = rng.randrange(900)
        hi = lo + rng.randrange(10, 200)
        pruned = collections.Counter(
            (r.id, r.a, r.b, r.day)
            for r in manifest_pruned_read(
                spark, manifest, {"a": (lo, hi)}, base_path=root
            ).select(
                "id", "a", "b", F.col("day").cast("string").alias("day")
            ).collect()
        )
        full = collections.Counter(
            (i, a, b, d) for (i, a, b, d), n in model.items()
            if lo <= a <= hi for _ in range(n)
        )
        if pruned != full:
            raise AssertionError(
                f"seed={seed} step={step}: manifest-pruned read "
                f"[{lo},{hi}] diverged ({sum(pruned.values())} vs "
                f"{sum(full.values())} rows)"
            )

    def check_update_equals_rebuild(step: str) -> None:
        reb = build_manifest(spark, root, ["a"])
        n_diff = manifest.exceptAll(reb).count() + reb.exceptAll(manifest).count()
        if n_diff:
            raise AssertionError(
                f"seed={seed} step={step}: incrementally-maintained "
                f"manifest != rebuild ({n_diff} differing rows)"
            )

    def replace_dir(day_dir: str, op) -> None:
        """In-place per-partition rewrite: op writes day_dir -> tmp,
        then tmp replaces day_dir (write completes BEFORE the delete,
        so a failed rewrite never loses data)."""
        tmp = f"{base}/rewrite"
        op(day_dir, tmp)
        shutil.rmtree(day_dir)
        shutil.move(tmp, day_dir)

    # step 0 is always an ingest so every trajectory has a table
    ops = ["ingest"] + [
        rng.choice(["ingest", "ingest", "compact", "zorder", "vacuum",
                    "merge", "merge"])
        for _ in range(n_steps - 1)
    ]
    for step_no, op in enumerate(ops):
        tag = f"{step_no}:{op}"
        if op == "ingest":
            rows = make_batch(rng, next_id, rng.randrange(200, 600))
            next_id += len(rows)
            write_batch(rows)
            model.update((i, a, b, d) for (i, a, b, d) in rows)
        elif op in ("compact", "zorder") and live_days():
            day = rng.choice(live_days())
            day_dir = f"{root}/day={day}"
            if op == "compact":
                replace_dir(day_dir, lambda s, d: compact_parquet(
                    spark, s, d, target_file_bytes=32 * 1024,
                    sort_by="a" if rng.random() < 0.5 else None))
            else:
                replace_dir(day_dir, lambda s, d: zorder_compact(
                    spark, s, d, ["a", "b"],
                    target_file_bytes=32 * 1024, bins=16))
        elif op == "merge" and model:
            # --- build a CDC batch against the CURRENT model ---
            live = sorted(model)  # (id,a,b,day), each id unique
            # updates: same id, SAME day (the operator's documented
            # contract), fresh a/b
            upd = [(i, rng.randrange(1000), rng.randrange(1000), d)
                   for (i, _, _, d) in rng.sample(live,
                                                  min(len(live),
                                                      rng.randrange(1, 40)))]
            # inserts: brand-new ids on random days
            ins = make_batch(rng, next_id, rng.randrange(0, 40))
            next_id += len(ins)
            # deletes: live keys; 1-in-4 batches delete a WHOLE day
            # (exercises the emptied-day clear + manifest interplay)
            if rng.random() < 0.25 and live_days():
                kill = rng.choice(live_days())
                dels = [(i, d) for (i, _, _, d) in live if d == kill]
            else:
                dels = [(i, d) for (i, _, _, d) in
                        rng.sample(live, min(len(live), rng.randrange(0, 15)))]
            # sometimes delete a key that is ALSO upserted (delete wins)
            if upd and rng.random() < 0.4:
                i0, _, _, d0 = upd[0]
                dels.append((i0, d0))
            # and a no-op delete of an absent key on a live day
            if live_days() and rng.random() < 0.3:
                dels.append((next_id + 10**9, rng.choice(live_days())))
            ups_df = spark.createDataFrame(
                upd + ins, "id long, a long, b long, day string")
            dels_df = spark.createDataFrame(dels, "id long, day string")
            incremental_merge(spark, root, ups_df, dels_df,
                              key_col="id", day_col="day")
            # --- model mutation (independent re-derivation) ---
            del_ids = {i for (i, _) in dels}
            for key in [k for k in model if k[0] in del_ids]:
                del model[key]
            up_by_id = {i: (i, a, b, d) for (i, a, b, d) in upd
                        if i not in del_ids}
            for key in [k for k in model if k[0] in up_by_id]:
                del model[key]
            model.update(up_by_id.values())
            model.update((i, a, b, d) for (i, a, b, d) in ins
                         if i not in del_ids)
        elif op == "vacuum" and len(live_days()) > 1:
            cutoff = rng.choice(live_days()[1:])  # keep >= 1 day alive
            # vacuum's contract is DIRECTORY-level: a merge that
            # deleted a whole day leaves an EMPTY day= directory (the
            # emptied-day clear — incremental_merge's documented
            # non-emitting-partition behavior), which vacuum rightly
            # removes even though the model has no rows there. Expect
            # from the filesystem, then separately assert no LIVE day
            # at/above the cutoff was touched. (Caught by fuzz seed
            # 120007 on the first merge-enabled run.)
            dir_days = {n.split("=", 1)[1] for n in os.listdir(root)
                        if n.startswith("day=")}
            removed = set(vacuum_partitions(spark, root, "day", cutoff))
            expect_removed = {d for d in dir_days if d < cutoff}
            if removed != expect_removed:
                raise AssertionError(
                    f"seed={seed} step={tag}: vacuum removed {removed}, "
                    f"expected {expect_removed}"
                )
            if any(d >= cutoff for d in removed):
                raise AssertionError(
                    f"seed={seed} step={tag}: vacuum removed a day at/"
                    f"above the cutoff {cutoff}: {removed}"
                )
            for key in [k for k in model if k[3] < cutoff]:
                del model[key]
        else:
            stats["skipped_steps"] += 1
            continue
        stats["ops"][op] += 1
        check_content(tag)
        check_manifest(tag)
        if step_no % 3 == 2 or step_no == len(ops) - 1:
            check_update_equals_rebuild(tag)
            stats["rebuild_checks"] += 1
        stats["checks"] += 1
    shutil.rmtree(base, ignore_errors=True)


def main() -> None:
    opt = {a.split("=")[0][2:]: a.split("=", 1)[1]
           for a in sys.argv[1:] if a.startswith("--") and "=" in a}
    n_traj = int(opt.get("trajectories", "200"))
    n_steps = int(opt.get("steps", "8"))
    seed0 = int(opt.get("seed0", "120000"))

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")
    from jobhouse_spark.session import get_spark

    spark = get_spark(app_name="maintenance_fuzz", extra_conf={
        "spark.sql.shuffle.partitions": "8",
        # keep day=YYYY-MM-DD a STRING on read (the model's type);
        # inference to DATE would be a type, not content, difference
        "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    })

    stats = {"ops": collections.Counter(), "checks": 0,
             "rebuild_checks": 0, "skipped_steps": 0}
    lock = threading.Lock()
    t0 = time.perf_counter()
    failures: list[str] = []
    done = [0]

    def one(seed: int) -> None:
        local = {"ops": collections.Counter(), "checks": 0,
                 "rebuild_checks": 0, "skipped_steps": 0}
        try:
            run_trajectory(spark, seed, n_steps, local)
        except AssertionError as exc:  # divergence — record, keep going
            with lock:
                failures.append(str(exc))
        finally:
            for leftover in glob.glob(
                    f"{tempfile.gettempdir()}/jh_mfuzz_{seed}_*"):
                shutil.rmtree(leftover, ignore_errors=True)
        with lock:
            stats["ops"].update(local["ops"])
            for k in ("checks", "rebuild_checks", "skipped_steps"):
                stats[k] += local[k]
            done[0] += 1
            if done[0] % 20 == 0:
                print(f"... {done[0]}/{n_traj} trajectories, "
                      f"{stats['checks']} checks, {len(failures)} failures",
                      file=sys.stderr)

    # trajectories are independent (own temp dir, own RNG, own model);
    # a thread pool overlaps their many tiny Spark jobs
    workers = int(opt.get("workers", "8"))
    with concurrent.futures.ThreadPoolExecutor(workers) as pool:
        futs = [pool.submit(one, seed0 + i) for i in range(n_traj)]
        for f in futs:
            f.result()
            if len(failures) >= 5:
                for g in futs:
                    g.cancel()
                break
    summary = {
        "metric": "maintenance_fuzz",
        "trajectories": n_traj,
        "steps_per_trajectory": n_steps,
        "seed0": seed0,
        "ops": dict(stats["ops"]),
        "content_checks": stats["checks"],
        "rebuild_equivalence_checks": stats["rebuild_checks"],
        "skipped_steps": stats["skipped_steps"],
        "failures": failures,
        "wall_sec": round(time.perf_counter() - t0, 1),
    }
    print(json.dumps(summary))
    out = opt.get("json")
    if out:
        with open(out, "w") as f:
            json.dump(summary, f, indent=1)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
