"""Bench harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and print ONE JSON line.

Usage: python bench.py [--tag headline|all] [--repeat N]

Why --gc-between-repeats exists (the 1000x median-of-3 OOM, round 8→9):
each repeat registers fresh ShuffleDependencies and broadcast blocks;
Spark's ContextCleaner only releases them when the driver JVM's GC
collects the weak references, and a large heap (24-48 GB) under
repeat-to-repeat allocation pressure may not run a full GC before the
NEXT repeat re-materializes 10+ GB of shuffle state — so q18/q5/q3's
states stack up across repeats until the third one lands on a heap
already holding two generations of dead-but-uncollected shuffle
buffers. The knob forces a driver System.gc() (which drains the
ContextCleaner queue) between repeats, making each repeat start from a
clean block manager — at the cost of not measuring warm-cache carryover.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from jobhouse_spark.queries import all_queries
from jobhouse_spark.session import get_spark

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Side-file default (round-15 verdict task 8): NOT BENCH_local.json —
# that file is the COMMITTED curated idle-anchor record, and using it
# as the default side sink meant every driver/bench invocation
# clobbered the curated reading (the r14 c8 run overwrote the 20.6 s
# anchor with a wave-poisoned 302 s record). BENCH_side.json is
# gitignored; promote a reading into BENCH_local.json deliberately.
_SIDE_DEFAULT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_side.json")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="headline", help="'all' or a registry tag")
    # median-of-3 by default: the sandbox shows multi-x wall-clock variance
    # under concurrent load, so a single (or best-of) sample misattributes
    # machine noise to the plan; the median of three is stable and the first
    # run's codegen/classloading warm-up can't dominate it
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    # honest exclusion knob for extreme-scale rungs: raw l2's output
    # grows C(N,2) per copy-group under replication (the ANSWER grows,
    # not the plan — SCALE.md), so 300x runs skip it and say so in the
    # JSON rather than silently dropping it from the set
    ap.add_argument("--skip", default="", help="comma-separated query names to skip")
    # see module docstring: forces ContextCleaner to drain between
    # repeats so repeat N+1 doesn't inherit repeat N's uncollected
    # shuffle/broadcast state (the 1000x median-of-3 OOM cause)
    ap.add_argument("--gc-between-repeats", action="store_true")
    # round-12 second section: the 19-query headline set predates the
    # maintenance/entity operators; --no-ops-section turns the extra
    # block off for special runs (scale ladders) where only the
    # baseline-comparable headline matters
    ap.add_argument("--no-ops-section", action="store_true")
    # contention auto-retry (round 13): three of the five driver rounds
    # r08-r12 moved the headline +-15% on machine load alone. When the
    # first attempt self-flags contended, wait (bounded) for the load
    # to decay below the documented idle band and measure once more;
    # both attempts land in the one JSON line. --no-contention-retry
    # for scale ladders where wall-clock budget matters more.
    ap.add_argument("--no-contention-retry", action="store_true")
    ap.add_argument("--retry-wait-max", type=float, default=600.0,
                    help="max seconds to wait for load decay before the retry")
    args = ap.parse_args()

    first = _measure(args)
    result = first
    if first["contended"] and not args.no_contention_retry:
        waited = _wait_for_idle(args.retry_wait_max)
        second = _measure(args)
        second["retry_waited_sec"] = round(waited, 1)
        # headline = the attempt that ran cleaner: an uncontended retry
        # always wins; if BOTH flagged, the lower total is the better
        # estimate of the plan (load only ever inflates walls). The
        # losing attempt rides along under other_attempt so the record
        # shows both, per the round-12 verdict's bench-robustness task.
        if not second["contended"] or second["value"] <= first["value"]:
            result, loser = second, first
        else:
            result, loser = first, second
        # the FULL dual-attempt record (per-query walls AND cpu dicts
        # for both attempts) goes to a SIDE file — the driver parses
        # only the last ~2,000 bytes of stdout, and round 13 proved
        # that embedding the losing attempt's 19-query dict overflows
        # that window (BENCH_r13 recorded parsed:null).
        try:
            side = os.environ.get("SPARK_GRAFT_BENCH_SIDE", _SIDE_DEFAULT)
            with open(side, "w") as fh:
                json.dump({"winner": dict(result), "loser_full": loser},
                          fh, indent=1)
        except OSError:
            pass  # side record is best-effort; the stdout line is the contract
        # stdout line, retry shape: winner's walls stay (the baseline
        # comparison needs them); the winner's per-query CPU dicts move
        # to the side file (diagnostics, ~640 bytes) and the loser is
        # summarized to scalars — keeping the printed line well inside
        # the driver's capture window with headroom for future keys.
        for k in ("cpu_sec", "ops_cpu_sec"):
            result.pop(k, None)
        result["cpu_in_side_file"] = True
        result["other_attempt"] = _attempt_summary(loser)
        if first["contended"] and second["contended"]:
            # ADVICE r13: when BOTH attempts flagged, the headline is a
            # min-of-two — mark it so cross-round comparisons can
            # account for the selection bias vs single-attempt rounds
            result["both_contended"] = True
    else:
        # single-attempt path: the full record (incl. ops cpu) to the
        # side file, and the ops CPU dict off the printed line — the
        # r14 jh12 keys pushed the line to 1,794 B, 6 B under the
        # budget; ops_cpu_sec is pure diagnostics (~210 B) and lives
        # in BENCH_local.json like the retry path's CPU dicts
        try:
            side = os.environ.get("SPARK_GRAFT_BENCH_SIDE", _SIDE_DEFAULT)
            with open(side, "w") as fh:
                json.dump({"winner": dict(result)}, fh, indent=1)
        except OSError:
            pass
        if result.pop("ops_cpu_sec", None) is not None:
            result["ops_cpu_in_side_file"] = True
    print(json.dumps(result))


def _attempt_summary(res: dict) -> dict:
    # SCALARS ONLY (round-14 fix): r13's retry embedded the losing
    # attempt's full per-query dict here, pushing the final stdout line
    # to ~2.9 KB — past the driver's 2,000-byte tail capture, so the
    # driver recorded parsed:null. The per-query detail lives in
    # BENCH_local.json instead; tests/test_bench_retry.py pins the
    # printed-line budget.
    keep = ("value", "contended", "load_avg_before",
            "load_avg_15m", "wall_spread_median", "cpu_ratio_median",
            "wall_ratio_median", "retry_waited_sec")
    return {k: res[k] for k in keep if k in res}


def _stream_floor(spark, repeat: int) -> float:
    """Median wall of the t-family machinery alone: a one-row parquet
    file-stream driven through the identical start/processAllAvailable/
    stop/memory-sink path the t-entries use (streaming/jobs.run_to_memory),
    with zero operator work riding on it."""
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from jobhouse_spark.streaming.jobs import run_to_memory  # noqa: PLC0415

    d = tempfile.mkdtemp(prefix="jh_stream_floor_")
    try:
        spark.range(1).selectExpr(
            "id", "timestamp'2024-01-01 00:00:00' AS ts"
        ).coalesce(1).write.mode("overwrite").parquet(d)
        walls: list[float] = []
        for _ in range(max(1, repeat)):
            t0 = time.perf_counter()
            raw = (
                spark.readStream.schema("id long, ts timestamp")
                .format("parquet")
                .load(d)
            )
            run_to_memory(raw, mode="append").collect()
            walls.append(time.perf_counter() - t0)
        return round(statistics.median(walls), 4)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# idle band from BASELINE.md's measured good/bad splits: good runs at
# load15 4.2-4.4, the bad run at 7.2. load1 <= 4.0 additionally gates
# on nothing CURRENTLY running (our own attempt-1 executors push load1
# up; it decays within a couple of minutes).
_IDLE_LOAD1 = 4.0
_IDLE_LOAD15 = 4.4

# External-interference telltales (round-15 verdict task 2): the r14 c8
# scaling run proved load averages + repeat spread CANNOT see host-level
# interference waves — a wave-poisoned 302.7 s attempt (g1 alone 194 s)
# self-reported contended:false and beat a clean 25.9 s attempt in the
# retry selection. Two per-query anchor baskets close the hole; both
# are sf0.1-only (anchor values are layout-specific) and validated
# against all seven recorded splits (four poisoned runs flag, the
# clean c8 attempt / the r14 idle anchor / the 20.6 s curated run
# pass):
#
# 1. Driver-process CPU on the s1/p2/o1 floor trio: waves inflate it
#    2-6x while clean runs sit at 0.9-1.6x (poisoned c8 ratios
#    2.0/2.3/2.4; its clean sibling 1.6/1.1/1.0). EXACTLY this trio —
#    a wider basket dilutes below threshold on waves that spare the
#    mid-size queries (measured round 15).
# 2. Walls on a 6-query anchor basket: some waves inflate walls
#    10-80x while leaving driver CPU near-flat (round-15 measured run:
#    o1 wall 18.2 s = 79x anchor, its cpu 1.8x — the cpu telltale
#    alone barely flags it at 2.1). Median wall ratio > 2.5 flags;
#    clean c8 sat at 1.7, the curated 20.6 s run at ~1.7.
#
# Anchors are idle-box readings of queries untouched since r13
# (BENCH_r13 best / BENCH_local curated). They are core-count-tolerant
# (clean c8 medians: cpu 1.13, wall 1.73) but host-EPOCH dependent —
# if the sandbox hardware generation changes, rescale via
# SPARK_GRAFT_CPU_ANCHOR_SCALE / SPARK_GRAFT_WALL_ANCHOR_SCALE
# instead of editing code.
_CPU_ANCHORS = {
    "s1_parquet_scan": 0.011,
    "p2_filter": 0.015,
    "o1_global_sort": 0.021,
}
_CPU_INFLATION_FLAG = 2.0
_WALL_ANCHORS = {
    "s1_parquet_scan": 0.183,
    "p2_filter": 0.171,
    "o1_global_sort": 0.229,
    "g1_groupby_agg": 1.228,
    "j1_inner_equi": 0.578,
    "l1_exact_dedup": 0.232,
}
_WALL_INFLATION_FLAG = 2.5


def _anchor_ratio_median(
    timings: dict, anchors: dict, scale_env: str
) -> float | None:
    """Median of per-query reading / idle-anchor ratios over a basket —
    the interference-wave telltale (see the anchor-table comment). A
    malformed or non-positive scale falls back to 1.0 with a warning."""
    raw = os.environ.get(scale_env, "1.0")
    try:
        scale = float(raw)
    except ValueError:
        scale = 0.0
    if not scale > 0:  # also rejects nan
        print(f"bench: ignoring {scale_env}={raw!r}; using 1.0", file=sys.stderr)
        scale = 1.0
    ratios = [
        timings[q] / (a * scale)
        for q, a in anchors.items()
        if q in timings and a > 0
    ]
    return round(statistics.median(ratios), 2) if ratios else None


def _wait_for_idle(max_wait: float) -> float:
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < max_wait:
        l1, _l5, l15 = os.getloadavg()
        if l1 <= _IDLE_LOAD1 and l15 <= _IDLE_LOAD15:
            break
        time.sleep(15.0)
    return time.perf_counter() - t0


def _measure(args) -> dict:
    # contention telltale #1: 1-min load average BEFORE this process
    # spins up its own executors — anything much above ~1 here is other
    # tenants, and their scheduling pressure will inflate walls without
    # touching per-query CPU (the round-8/round-10 signature,
    # BASELINE.md). Captured now because after get_spark() the load is
    # dominated by our own local[32] threads.
    # ALL THREE horizons: a fresh-idle 1-min average can mask recently
    # finished heavy jobs whose page-cache/writeback residue still
    # inflates walls (measured 2026-08-16: load1 0.18 but load15 7.2
    # -> 19.2 s vs 15.2 s truly idle) — the 15-min average catches it.
    load1, load5, load15 = os.getloadavg()
    load_before = load1

    spark = get_spark(app_name="jobhouse_bench")
    qs = all_queries()
    if args.tag != "all":
        qs = {k: q for k, q in qs.items() if args.tag in q.tags}
    skipped = [s.strip() for s in args.skip.split(",") if s.strip()]
    unknown = [s for s in skipped if s not in qs]
    if unknown:  # a typo'd name would otherwise be RECORDED as skipped
        raise SystemExit(f"--skip names not in the selected set: {unknown}")
    qs = {k: q for k, q in qs.items() if k not in skipped}

    # one warm-up action so JVM/codegen startup isn't billed to the first query
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def run_set(names_to_q, spreads_acc):
        wall_out: dict[str, float] = {}
        cpu_out: dict[str, float] = {}
        for name in sorted(names_to_q):
            q = names_to_q[name]
            walls: list[float] = []
            cpus: list[float] = []
            for rep in range(max(1, args.repeat)):
                if args.gc_between_repeats and rep > 0:
                    # driver System.gc() collects the weak refs that gate
                    # ContextCleaner, releasing the previous repeat's
                    # shuffle files + broadcast blocks before this one
                    # allocates its own (GC time is NOT billed to the query)
                    spark.sparkContext._jvm.System.gc()
                    time.sleep(0.5)  # let the cleaner queue drain
                t0 = time.perf_counter()
                c0 = time.process_time()
                df = q.fn(spark, args.sf_dir)
                # Force execution with a noop-sink write, not count():
                # Catalyst can prune work under a count (final orderBy,
                # projection-only columns), so count() under-measures
                # sort/projection queries. The noop v2 sink consumes every
                # row and column and discards them — the honest forcer.
                df.write.format("noop").mode("overwrite").save()
                walls.append(time.perf_counter() - t0)
                cpus.append(time.process_time() - c0)
            wall_out[name] = round(statistics.median(walls), 4)
            cpu_out[name] = round(statistics.median(cpus), 4)
            if len(walls) >= 2 and min(walls) > 0:
                # contention telltale #2: repeat-to-repeat spread. Repeat 1
                # carries plan-compile/codegen warm-up (1.3-1.5x on
                # sub-second queries even idle), so the spread is computed
                # over the WARM repeats — idle-box warm spread is a few
                # percent; under a co-tenant it diverges wildly.
                warm = walls[1:] if len(walls) >= 3 else walls
                spreads_acc.append(max(warm) / min(warm))
        return wall_out, cpu_out

    spreads: list[float] = []
    timings, cpu_timings = run_set(qs, spreads)

    # SECOND SECTION (round 12): the round-11 operator surface — entity
    # resolution, compaction, manifest-pruned read — measured with the
    # identical protocol but reported under SEPARATE keys, so the
    # headline total stays comparable to the round-6 BASELINE (which
    # predates these operators). Spreads feed the same contention flag.
    _OPS_SECTION = ("jh8_employer_resolution", "s17_compaction_invariance",
                    "s19_manifest_pruned_scan")
    ops_timings: dict[str, float] = {}
    ops_cpu: dict[str, float] = {}
    if args.tag == "headline" and not args.no_ops_section:
        all_qs = all_queries()
        ops_qs = {n: all_qs[n] for n in _OPS_SECTION
                  if n in all_qs and n not in skipped}
        ops_timings, ops_cpu = run_set(ops_qs, spreads)
        # jh11 under SPLIT keys (round-13 verdict task 6): the single
        # registry-query timing bundled day-1 full resolution with the
        # day-2 batch apply, so the ops trend line mostly tracked the
        # rebuild the incremental operator exists to avoid. Timing the
        # two phases separately keeps the apply's cost visible on its
        # own. r13 comparability: jh11_incremental_resolution (r13 ops
        # key) ~= jh11_day0_resolve + jh11_batch_apply (BASELINE.md).
        if "jh11_incremental_resolution" not in skipped:
            jh11_walls, jh11_cpus = _run_jh11_split(spark, args, spreads)
            ops_timings.update(jh11_walls)
            ops_cpu.update(jh11_cpus)

    # streaming machinery floor (round-15 verdict task 6): ~0.9 s of
    # t2's ~1.1 s wall is micro-batch startup + file listing + memory
    # sink + stop — machinery every t-entry pays per invocation, not
    # operator cost. Measured with the same median-of-repeat protocol
    # on a ONE-ROW passthrough stream so the JSON separates the floor
    # from the operators that ride on it.
    stream_floor = None
    if any(n.startswith("t") for n in timings):
        stream_floor = _stream_floor(spark, args.repeat)

    sf = args.sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    total = round(sum(timings.values()), 4)
    spread_median = round(statistics.median(spreads), 3) if spreads else None
    # anchor telltales only where the anchors mean something: the
    # default sf0.1 layout (scale ladders pass other dirs)
    cpu_ratio = wall_ratio = None
    if sf == "0.1":
        cpu_ratio = _anchor_ratio_median(
            cpu_timings, _CPU_ANCHORS, "SPARK_GRAFT_CPU_ANCHOR_SCALE")
        wall_ratio = _anchor_ratio_median(
            timings, _WALL_ANCHORS, "SPARK_GRAFT_WALL_ANCHOR_SCALE")
    # the documented sandbox-contention signature, now machine-readable:
    # other load already on the box, repeats that disagree by >50% in
    # the middle of the distribution, or cpu/wall inflation on the
    # anchor baskets (the wave telltales — see _CPU_ANCHORS above).
    # Judges/rounds read the verdict from the JSON instead of
    # re-deriving it.
    contended = bool(
        load_before > 4.0
        # recent heavy activity still settling; threshold from measured
        # splits (19.2 s bad run at load15 7.2; 13.3-15.2 s good runs
        # at 4.2-4.4 — load15 decays slowly after a burst, so 4.0
        # would flag genuinely idle runs for ~15 minutes)
        or load15 > 6.0
        or (spread_median is not None and spread_median > 1.5)
        or (cpu_ratio is not None and cpu_ratio > _CPU_INFLATION_FLAG)
        or (wall_ratio is not None and wall_ratio > _WALL_INFLATION_FLAG)
    )
    return {
                "metric": "headline_query_wall_clock_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # driver-process CPU medians: near-zero per query (work is
                # JVM-side); a machine-load confound inflates wall but not
                # these, so divergence flags a noisy run
                "cpu_sec": cpu_timings,
                "repeat": max(1, args.repeat),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "load_avg_before": round(load_before, 2),
                "load_avg_5m": round(load5, 2),
                "load_avg_15m": round(load15, 2),
                "wall_spread_median": spread_median,
                "cpu_ratio_median": cpu_ratio,
                "wall_ratio_median": wall_ratio,
                "contended": contended,
                **({"stream_floor_sec": stream_floor}
                   if stream_floor is not None else {}),
                **({"skipped": skipped} if skipped else {}),
                **({"gc_between_repeats": True} if args.gc_between_repeats else {}),
                # separate keys: NOT part of the baseline-comparable
                # headline total (BASELINE.md documents the split)
                **({"ops_queries": ops_timings,
                    "ops_cpu_sec": ops_cpu,
                    "ops_total": round(sum(ops_timings.values()), 4)}
                   if ops_timings else {}),
            }


def _run_jh11_split(spark, args, spreads_acc: list[float]) -> tuple[dict, dict]:
    """Time jh11's two phases under separate keys with the run_set
    protocol (median-of-repeat walls + driver cpu, warm-repeat spread
    into the shared contention accumulator):

      jh11_day0_resolve — full day-1 resolution + persist of the
        stored mapping (the cost a production deployment pays ONCE,
        then amortizes across daily batches);
      jh11_batch_apply — the incremental apply of the day-2 batch
        against the ALREADY-MATERIALIZED stored map (the recurring
        daily cost; this is the number the operator exists to shrink);
      jh12_bootstrap — build + write the stored blocking index
        (EntityGramIndex parquet tables; one-time, amortized like
        day0);
      jh12_apply — the same batch applied THROUGH the parquet-backed
        index (round 14: the recurring daily cost without the
        O(domain) re-derivation jh11_batch_apply still pays).

    The stored map is forced BEFORE the apply timer starts, so the
    apply measurement can't silently re-run day-1 work: the closure's
    per-round localCheckpoint already truncates its lineage, so the
    map needs no cache (and no release between repeats)."""
    import statistics as _st  # local: keep module top unchanged

    import shutil as _sh  # local: keep module top unchanged
    import tempfile as _tf

    from jobhouse_spark.operators.entity import (
        EntityGramIndex,
        build_entity_index,
        resolve_entities,
        resolve_entities_incremental,
        resolve_entities_incremental_indexed,
    )
    from jobhouse_spark.queries.jobhouse_gold import jh11_split_inputs

    keys = ("jh11_day0_resolve", "jh11_batch_apply",
            "jh12_bootstrap", "jh12_apply")
    walls = {k: [] for k in keys}
    cpus = {k: [] for k in keys}
    for rep in range(max(1, args.repeat)):
        if args.gc_between_repeats and rep > 0:
            spark.sparkContext._jvm.System.gc()
            time.sleep(0.5)
        day1, batch = jh11_split_inputs(spark)

        t0, c0 = time.perf_counter(), time.process_time()
        stored = resolve_entities(day1)
        # noop write forces the stored map (same honest forcer as
        # run_set) so the apply phase starts from a computed map
        stored.write.format("noop").mode("overwrite").save()
        walls["jh11_day0_resolve"].append(time.perf_counter() - t0)
        cpus["jh11_day0_resolve"].append(time.process_time() - c0)

        t0, c0 = time.perf_counter(), time.process_time()
        out = resolve_entities_incremental(batch, stored).orderBy("name")
        out.write.format("noop").mode("overwrite").save()
        walls["jh11_batch_apply"].append(time.perf_counter() - t0)
        cpus["jh11_batch_apply"].append(time.process_time() - c0)

        idx_dir = _tf.mkdtemp(prefix="jh_bench_idx_")
        try:
            t0, c0 = time.perf_counter(), time.process_time()
            build_entity_index(day1).save(idx_dir)
            walls["jh12_bootstrap"].append(time.perf_counter() - t0)
            cpus["jh12_bootstrap"].append(time.process_time() - c0)

            idx = EntityGramIndex.load(spark, idx_dir)
            t0, c0 = time.perf_counter(), time.process_time()
            out2, _ = resolve_entities_incremental_indexed(batch, stored, idx)
            out2.orderBy("name").write.format("noop").mode("overwrite").save()
            walls["jh12_apply"].append(time.perf_counter() - t0)
            cpus["jh12_apply"].append(time.process_time() - c0)
        finally:
            _sh.rmtree(idx_dir, ignore_errors=True)

    wall_out, cpu_out = {}, {}
    for key in walls:
        ws = walls[key]
        wall_out[key] = round(_st.median(ws), 4)
        cpu_out[key] = round(_st.median(cpus[key]), 4)
        if len(ws) >= 2 and min(ws) > 0:
            warm = ws[1:] if len(ws) >= 3 else ws
            spreads_acc.append(max(warm) / min(warm))
    return wall_out, cpu_out


if __name__ == "__main__":
    main()
