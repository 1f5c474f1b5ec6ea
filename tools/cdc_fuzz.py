"""CDC / SCD2 trajectory fuzzing (round 11).

The grammar-v1..v7 fuzzers cover the QUERY surface; this one covers the
STATEFUL MERGE surface — `operators/scd.scd2_apply` (both
full-snapshot and incremental-feed modes) driven by RANDOM per-key
trajectories, differentially checked against a DuckDB window-SQL
oracle that derives the whole version history from the raw event log
in one pass (no shared code, no shared algorithm: Spark builds the
history iteratively batch-by-batch through full-outer joins; DuckDB
reconstructs it retrospectively with LAG/IS DISTINCT FROM over the
log). Any divergence in null handling, delete semantics, idempotency
re-open logic, or interval bookkeeping shows up as a row diff.

Trajectory generator (seeded): K keys x B batches; each (key, batch)
is present with p=0.6 carrying two attrs — a category string that may
be NULL (null-safe transition coverage: NULL->value and value->NULL
must version, not vanish) and an int value; one key per block is the
NULL key (scd2_apply contract: NULL-key rows match each other).

A block packs many independent key-trajectories into ONE iterative
Spark apply chain (the operator is per-key, so N keys = N independent
fuzz cases sharing B applies) — 2,000 trajectories verify in the time
one would.

Checked per block:
  1. history == oracle (exact row set: key, attrs, valid_from, valid_to)
  2. idempotency: re-applying the final batch at the same as_of leaves
     the history IDENTICAL
  3. structural invariants: <=1 open row per key; valid_from < valid_to
     on every closed row; per-key intervals never overlap

Usage:
  python tools/cdc_fuzz.py [--blocks=20] [--keys=100] [--batches=6]
                           [--seed0=90000] [--json=PATH]
Cores from $SPARK_GRAFT_CPUS (default: all), heap from
$SPARK_DRIVER_MEMORY (default 8g).
"""

from __future__ import annotations

import json
import os
import random
import sys
from datetime import date, timedelta

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CATS = ["alpha", "beta", "gamma", None, "delta"]


def gen_log(seed: int, n_keys: int, n_batches: int) -> list[dict]:
    """Random trajectories: rows (batch, as_of, key, cat, val, present).
    Absent (key, batch) pairs are emitted with present=False so the
    oracle sees the full grid."""
    rng = random.Random(seed)
    rows = []
    for b in range(n_batches):
        as_of = (date(2024, 1, 1) + timedelta(days=b)).isoformat()
        for k in range(n_keys):
            key = None if k == 0 else seed * 100_000 + k
            present = rng.random() < 0.6
            rows.append({
                "batch": b, "as_of": as_of, "key": key,
                "cat": rng.choice(CATS) if present else None,
                "val": rng.randint(0, 4) if present else None,
                "present": present,
            })
    return rows


# Full-snapshot mode: absence closes (deletes). A version opens at any
# absent->present or attr-change batch; it closes at the first later
# batch whose state moves away (absent or different attrs).
ORACLE_SNAPSHOT = """
WITH states AS (
  SELECT key, batch, as_of, present, cat, val,
         COALESCE(LAG(present) OVER w, FALSE) AS prev_present,
         LAG(cat) OVER w AS prev_cat,
         LAG(val) OVER w AS prev_val
  FROM log WINDOW w AS (PARTITION BY key ORDER BY batch)
),
opens AS (
  SELECT key, batch, as_of, cat, val FROM states
  WHERE present AND (NOT prev_present
                     OR cat IS DISTINCT FROM prev_cat
                     OR val IS DISTINCT FROM prev_val)
),
closes AS (
  SELECT key, batch, as_of FROM states
  WHERE prev_present AND (NOT present
                          OR cat IS DISTINCT FROM prev_cat
                          OR val IS DISTINCT FROM prev_val)
)
SELECT o.key, o.cat, o.val, o.as_of AS valid_from,
       (SELECT MIN(c.as_of) FROM closes c
         WHERE c.key IS NOT DISTINCT FROM o.key AND c.batch > o.batch)
         AS valid_to
FROM opens o
"""

# Incremental-feed mode: absence is "no news" — only PRESENT rows
# participate; a version opens when attrs differ from the key's
# previous present row and closes at the key's next open.
ORACLE_INCREMENTAL = """
WITH seen AS (
  SELECT key, batch, as_of, cat, val,
         LAG(batch) OVER w AS prev_batch,
         LAG(cat) OVER w AS prev_cat,
         LAG(val) OVER w AS prev_val
  FROM log WHERE present WINDOW w AS (PARTITION BY key ORDER BY batch)
),
opens AS (
  SELECT key, batch, as_of, cat, val FROM seen
  WHERE prev_batch IS NULL
     OR cat IS DISTINCT FROM prev_cat
     OR val IS DISTINCT FROM prev_val
)
SELECT key, cat, val, as_of AS valid_from,
       LEAD(as_of) OVER (PARTITION BY key ORDER BY batch) AS valid_to
FROM opens
"""


def run_block(spark, duck, seed: int, n_keys: int, n_batches: int,
              mode: str) -> dict:
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from jobhouse_spark.operators.scd import scd2_apply

    log = gen_log(seed, n_keys, n_batches)
    schema = T.StructType([
        T.StructField("key", T.LongType()),
        T.StructField("cat", T.StringType()),
        T.StructField("val", T.LongType()),
        T.StructField("valid_from", T.DateType()),
        T.StructField("valid_to", T.DateType()),
    ])
    history = spark.createDataFrame([], schema)
    batch_schema = T.StructType(schema.fields[:3])
    as_of = ""
    last_batch_rows: list = []
    for b in range(n_batches):
        batch_rows = [
            (r["key"], r["cat"], r["val"])
            for r in log if r["batch"] == b and r["present"]
        ]
        as_of = next(r["as_of"] for r in log if r["batch"] == b)
        batch = spark.createDataFrame(batch_rows, batch_schema)
        history = scd2_apply(
            history, batch, key="key", attr_cols=["cat", "val"], as_of=as_of,
            treat_missing_as_delete=(mode == "snapshot"),
        )
        # collapse the growing join-chain plan between batches — the
        # fuzzer tests semantics, not plan depth (scale is SCALE.md's
        # jh5 job); recreate from rows so each apply starts flat
        last_batch_rows = batch_rows
        history = spark.createDataFrame(history.collect(), schema)

    def canon(rows):
        return sorted(
            ((r[0], r[1], r[2], str(r[3]), str(r[4]) if r[4] else None)
             for r in rows),
            key=lambda t: tuple(map(str, t)),  # None-safe total order
        )

    got = canon(history.collect())

    # 2. idempotency: same batch, same as_of -> identical history
    re_applied = scd2_apply(
        history, spark.createDataFrame(last_batch_rows, batch_schema),
        key="key", attr_cols=["cat", "val"], as_of=as_of,
        treat_missing_as_delete=(mode == "snapshot"),
    )
    assert canon(re_applied.collect()) == got, f"idempotency broken seed={seed}"

    # 3. structural invariants
    per_key: dict = {}
    for key, _c, _v, vf, vt in got:
        assert vt is None or vf < vt, (seed, key, vf, vt)
        per_key.setdefault(key, []).append((vf, vt))
    for key, ivs in per_key.items():
        opens = [iv for iv in ivs if iv[1] is None]
        assert len(opens) <= 1, (seed, key, opens)
        ivs = sorted(ivs, key=lambda iv: iv[0])
        for (f1, t1), (f2, _t2) in zip(ivs, ivs[1:]):
            assert t1 is not None and t1 <= f2, (seed, key, ivs)

    # 1. differential vs the DuckDB log oracle
    duck.register("log", pd.DataFrame(log))
    sql = ORACLE_SNAPSHOT if mode == "snapshot" else ORACLE_INCREMENTAL
    want = canon(
        (r[0], r[1], r[2], r[3], r[4])
        for r in duck.execute(sql).fetchall()
    )
    duck.unregister("log")
    assert got == want, (
        f"seed={seed} mode={mode}: {len(got)} vs {len(want)} rows\n"
        f"spark-only={set(got)-set(want)}\noracle-only={set(want)-set(got)}"
    )
    return {"seed": seed, "mode": mode, "versions": len(got),
            "keys": n_keys, "batches": n_batches}


def run_merge_block(spark, seed: int, n_keys: int, n_days: int,
                    n_batches: int, root: str) -> dict:
    """Randomized generalization of
    tests/test_incremental.py::test_incremental_merge_sequence_matches_reference_model:
    seeded random upsert/delete batches (same-batch delete-beats-upsert
    collisions, day-emptying deletes, re-inserts of deleted keys on new
    days) applied through `incremental_merge`, with the on-disk silver
    compared to an in-memory dict replay after EVERY batch. The model
    is independent by construction — ten lines of dict mutation vs the
    operator's partition-pruned join/overwrite machinery."""
    import shutil

    from jobhouse_spark.operators.incremental import incremental_merge

    rng = random.Random(seed)
    days = [(date(2024, 2, 1) + timedelta(days=d)).isoformat()
            for d in range(n_days)]
    schema = "event_id int, day string, payload string"
    shutil.rmtree(root, ignore_errors=True)

    base = [(k, rng.choice(days), f"p{seed}-{k}") for k in range(n_keys)
            if rng.random() < 0.7]
    spark.createDataFrame(base, schema).write.mode("overwrite") \
        .partitionBy("day").parquet(root)
    model = {k: (d, p) for k, d, p in base}

    checked = 0
    for b in range(n_batches):
        ups, dels = [], []
        for k in range(n_keys):
            r = rng.random()
            if r < 0.25:
                # upsert: existing keys keep their day (the operator's
                # documented stable-partition contract); new keys pick one
                day = model[k][0] if k in model else rng.choice(days)
                ups.append((k, day, f"p{seed}-{k}-b{b}"))
            elif r < 0.40:
                # delete (sometimes of an absent key — must be a no-op);
                # occasionally ALSO upserted above? exercise the
                # delete-wins collision by adding both for a few keys
                day = model[k][0] if k in model else rng.choice(days)
                dels.append((k, day))
                if rng.random() < 0.3:
                    ups.append((k, day, f"collide{b}"))
        if not ups and not dels:
            continue
        incremental_merge(
            spark, root,
            spark.createDataFrame(ups, schema),
            spark.createDataFrame(dels, "event_id int, day string"),
            "event_id", "day",
        )
        del_keys = {k for k, _ in dels}
        for k, d, p in ups:
            if k not in del_keys:
                model[k] = (d, p)
        for k in del_keys:
            model.pop(k, None)
        got = {r.event_id: (str(r.day), r.payload)
               for r in spark.read.parquet(root).collect()}
        assert got == model, (
            f"seed={seed} batch={b}: disk != model\n"
            f"disk-only={set(got.items()) - set(model.items())}\n"
            f"model-only={set(model.items()) - set(got.items())}"
        )
        checked += 1
    shutil.rmtree(root, ignore_errors=True)
    return {"seed": seed, "batches_checked": checked,
            "final_keys": len(model)}


def main() -> None:
    opt = {a.split("=")[0][2:]: a.split("=", 1)[1]
           for a in sys.argv[1:] if a.startswith("--") and "=" in a}
    blocks = int(opt.get("blocks", "20"))
    n_keys = int(opt.get("keys", "100"))
    n_batches = int(opt.get("batches", "6"))
    seed0 = int(opt.get("seed0", "90000"))

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")
    import duckdb

    from jobhouse_spark.session import get_spark

    spark = get_spark(app_name="cdc_fuzz")
    duck = duckdb.connect()

    results = []
    for i in range(blocks):
        mode = "snapshot" if i % 2 == 0 else "incremental"
        r = run_block(spark, duck, seed0 + i, n_keys, n_batches, mode)
        results.append(r)
        print(f"ok block {i + 1}/{blocks} seed={r['seed']} mode={mode} "
              f"versions={r['versions']}", flush=True)

    merge_blocks = int(opt.get("merge-blocks", "0"))
    merge_checked = 0
    for i in range(merge_blocks):
        r = run_merge_block(
            spark, seed0 + 500 + i, n_keys=40, n_days=5,
            n_batches=n_batches, root=f"/tmp/jh_cdc_fuzz_merge_{os.getpid()}",
        )
        merge_checked += r["batches_checked"]
        print(f"ok merge block {i + 1}/{merge_blocks} seed={r['seed']} "
              f"batches={r['batches_checked']}", flush=True)

    summary = {
        "metric": "cdc_fuzz",
        "blocks": blocks,
        "trajectories": blocks * n_keys,
        "applies": blocks * n_batches,
        "versions_checked": sum(r["versions"] for r in results),
        "merge_blocks": merge_blocks,
        "merge_batches_checked": merge_checked,
        "mismatches": 0,
    }
    print(json.dumps(summary))
    out = opt.get("json")
    if out:
        with open(out, "w") as f:
            json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
