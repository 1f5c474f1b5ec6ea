"""Bench harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and print ONE JSON line.

Usage: python bench.py [--tag headline|all] [--repeat N]

Each timed repeat of a query (and of each jh11/jh12 phase) runs inside a
``perfbench.trace.Tracer`` span with two children: ``build`` (the query
function, where eager work such as l2's checkpoint runs) and ``write``
(the noop write that forces the plan). After the run the Spark counters
of every span (jobs, stages, tasks, failed tasks, shuffle, spill,
executor CPU, input) go to the side file, $SPARK_GRAFT_BENCH_SIDE
(default BENCH_side.json), with the driver CPU per query and the host's
steal time over each timed repeat, so a wave that hits only a few
queries shows where it landed. The printed line keeps the median walls
and the host readings the ``contended`` flag rests on: the 1-min load
average before the session starts, and over the run (``run_s``) the
time the hypervisor gave the guest's CPUs to other guests
(``steal_s``) and the time some task inside the guest waited for a CPU
(``cpu_pressure_s``, the kernel's PSI).

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
from jobhouse_spark.session import get_spark, local_cores
from perfbench.trace import COUNTERS, Tracer, host_steal_s

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Side-file default (round-15 verdict task 8): NOT BENCH_local.json —
# that file is the COMMITTED curated record, and using it as the default
# side sink meant every bench invocation clobbered the curated reading.
# BENCH_side.json is gitignored; promote a reading into BENCH_local.json
# deliberately.
_SIDE_DEFAULT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_side.json")

# Contention floors, from bench runs on the 4-core reference host.
# Steal, as a share of the guest's CPU time (run wall x CPUs): nine idle
# runs read 0.4-5.4%; perfbench/NOTES.md's two slowest analyst_mix ops
# lost 5.4-11%, its fast ones about 0.
_STEAL_FLOOR = 0.06
# CPU pressure, as a share of the run wall: idle runs read 0.14-0.17;
# two runs beside nproc busy loops read 0.55-0.56 while their load
# average, 90 s after the loops started, was still 3.2-3.3 (the 1-min
# average lags).
_PRESSURE_FLOOR = 0.35

_OPS_SECTION = ("jh8_employer_resolution", "s17_compaction_invariance",
                "s19_manifest_pruned_scan")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="headline", help="'all' or a registry tag")
    # median-of-3 by default: the first run's codegen/classloading
    # warm-up can't dominate it, and repeats 2..N give the counters
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
    args = ap.parse_args()

    line, detail = _measure(args)
    # the driver parses only the tail of stdout, so every per-query dict
    # other than the walls goes to the side file
    try:
        side = os.environ.get("SPARK_GRAFT_BENCH_SIDE", _SIDE_DEFAULT)
        with open(side, "w") as fh:
            json.dump({**line, **detail}, fh, indent=1)
    except OSError:
        pass  # side record is best-effort; the stdout line is the contract
    print(json.dumps(line))


def _contended(load_before: float, steal_s: float, pressure_s: float | None,
               wall_s: float, cores: int, host_cpus: int) -> bool:
    """Other tenants already oversubscribe the cores Spark runs on, the
    hypervisor took more than ``_STEAL_FLOOR`` of the guest's CPU time
    (``host_steal_s`` sums over every guest CPU, hence ``host_cpus``),
    or tasks in the guest waited for a CPU for more than
    ``_PRESSURE_FLOOR`` of the run (``None``: no PSI on this kernel)."""
    return (load_before > cores
            or steal_s > _STEAL_FLOOR * wall_s * host_cpus
            or (pressure_s is not None and pressure_s > _PRESSURE_FLOOR * wall_s))


def _cpu_pressure_s() -> float | None:
    """Seconds some task of the guest waited for a CPU (PSI "some")."""
    try:
        with open("/proc/pressure/cpu") as fh:
            return int(fh.readline().rsplit("total=", 1)[1]) / 1e6
    except (OSError, IndexError, ValueError):
        return None


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


def _noop(df) -> None:
    # Force execution with a noop-sink write, not count(): Catalyst can
    # prune work under a count (final orderBy, projection-only columns),
    # so count() under-measures sort/projection queries. The noop v2
    # sink consumes every row and column and discards them.
    df.write.format("noop").mode("overwrite").save()


class _Timer:
    """Times repeats under Tracer spans: one span per repeat, named after
    the query or phase, with ``build`` and ``write`` children."""

    def __init__(self, spark, gc_between_repeats: bool):
        self.spark = spark
        self.gc = gc_between_repeats
        self.tracer = Tracer(spark.sparkContext, enabled=True)
        self.walls: dict[str, list[float]] = {}
        self.cpus: dict[str, list[float]] = {}
        self.steals: dict[str, list[float]] = {}

    def between_repeats(self) -> None:
        if self.gc:
            # driver System.gc() collects the weak refs that gate
            # ContextCleaner, releasing the previous repeat's shuffle
            # files + broadcast blocks (GC time is NOT billed to a query)
            self.spark.sparkContext._jvm.System.gc()
            time.sleep(0.5)  # let the cleaner queue drain

    def run(self, name: str, build, write=_noop):
        t0, c0, st0 = time.perf_counter(), time.process_time(), host_steal_s()
        with self.tracer.span(name):
            with self.tracer.span("build"):
                out = build()
            with self.tracer.span("write"):
                write(out)
        self.walls.setdefault(name, []).append(time.perf_counter() - t0)
        self.cpus.setdefault(name, []).append(time.process_time() - c0)
        self.steals.setdefault(name, []).append(host_steal_s() - st0)
        return out

    def medians(self, names) -> tuple[dict, dict]:
        return ({n: round(statistics.median(self.walls[n]), 4) for n in names},
                {n: round(statistics.median(self.cpus[n]), 4) for n in names})

    def counters(self) -> dict[str, list[dict]]:
        """Per query or phase: the counters of each warm repeat (repeat 2
        on; repeat 1 when it is the only one), inclusive of the build and
        write spans, which are listed too, and the host's steal time over
        the repeat."""
        t = self.tracer
        t.collect_counters()
        steals = {n: iter(v) for n, v in self.steals.items()}
        reps: dict[str, list] = {}
        for s in t.spans.values():  # insertion order = run order
            if s.parent is None:
                reps.setdefault(s.name, []).append((s, next(steals[s.name])))

        def row(s) -> dict:
            return {"wall_s": round(s.duration, 4),
                    **{k: round(t.inclusive(s, k), 3) for k in COUNTERS}}

        return {name: [{**row(s), "steal_s": round(steal, 2),
                        **{t.spans[c].name: row(t.spans[c]) for c in s.children}}
                       for s, steal in (ss[1:] or ss)]
                for name, ss in reps.items()}


def _measure(args) -> tuple[dict, dict]:
    """One measurement pass: the printed line and the side-file detail."""
    # 1-min load BEFORE this process spins up its own executors: load
    # above the cores Spark will use is other tenants. All three
    # horizons are recorded; only load1 feeds the flag.
    load1, load5, load15 = os.getloadavg()
    t_start, steal0, pressure0 = time.perf_counter(), host_steal_s(), _cpu_pressure_s()

    # retain every job and stage of the run for the counter read at the end
    spark = get_spark(app_name="jobhouse_bench", extra_conf={
        "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    registry = all_queries()
    qs = sorted(k for k, q in registry.items()
                if args.tag == "all" or args.tag in q.tags)
    skipped = [s.strip() for s in args.skip.split(",") if s.strip()]
    unknown = [s for s in skipped if s not in qs]
    if unknown:  # a typo'd name would otherwise be RECORDED as skipped
        raise SystemExit(f"--skip names not in the selected set: {unknown}")
    qs = [k for k in qs if k not in skipped]

    # one warm-up action so JVM/codegen startup isn't billed to the first query
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    timer = _Timer(spark, args.gc_between_repeats)
    repeat = max(1, args.repeat)

    def run_set(names):
        for name in names:
            q = registry[name]
            for rep in range(repeat):
                if rep:
                    timer.between_repeats()
                timer.run(name, lambda q=q: q.fn(spark, args.sf_dir))

    run_set(qs)
    timings, cpu_timings = timer.medians(qs)

    # SECOND SECTION (round 12): the round-11 operator surface — entity
    # resolution, compaction, manifest-pruned read — measured with the
    # identical protocol but reported under SEPARATE keys, so the
    # headline total stays comparable to the round-6 BASELINE (which
    # predates these operators).
    ops_names: list[str] = []
    if args.tag == "headline" and not args.no_ops_section:
        ops_names = [n for n in _OPS_SECTION if n in registry and n not in skipped]
        run_set(ops_names)
        # jh11 under SPLIT keys (round-13 verdict task 6): the single
        # registry-query timing bundled day-1 full resolution with the
        # day-2 batch apply, so the ops trend line mostly tracked the
        # rebuild the incremental operator exists to avoid.
        if "jh11_incremental_resolution" not in skipped:
            ops_names += _run_jh11_split(spark, timer, repeat)
    ops_timings, ops_cpu = timer.medians(ops_names)

    # streaming machinery floor (round-15 verdict task 6): most of t2's
    # wall is micro-batch startup + file listing + memory sink + stop —
    # machinery every t-entry pays per invocation, not operator cost.
    stream_floor = None
    if any(n.startswith("t") for n in timings):
        stream_floor = _stream_floor(spark, repeat)

    counters = timer.counters()
    run_s, steal_s = time.perf_counter() - t_start, host_steal_s() - steal0
    pressure_s = _cpu_pressure_s()
    pressure_s = None if None in (pressure0, pressure_s) else pressure_s - pressure0
    contended = _contended(load1, steal_s, pressure_s, run_s,
                           int(local_cores()), os.cpu_count() or 1)
    sf = args.sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    line = {
        "metric": "headline_query_wall_clock_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "repeat": repeat,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "load_avg_before": round(load1, 2),
        "load_avg_5m": round(load5, 2),
        "load_avg_15m": round(load15, 2),
        "run_s": round(run_s, 1),
        "steal_s": round(steal_s, 2),
        "cpu_pressure_s": pressure_s if pressure_s is None else round(pressure_s, 2),
        "contended": contended,
        **({"stream_floor_sec": stream_floor} if stream_floor is not None else {}),
        **({"skipped": skipped} if skipped else {}),
        **({"gc_between_repeats": True} if args.gc_between_repeats else {}),
        # separate keys: NOT part of the baseline-comparable headline
        # total (BASELINE.md documents the split)
        **({"ops_queries": ops_timings,
            "ops_total": round(sum(ops_timings.values()), 4)}
           if ops_timings else {}),
    }
    # driver-process CPU medians: near-zero per query (work is JVM-side)
    detail = {"cpu_sec": cpu_timings,
              **({"ops_cpu_sec": ops_cpu} if ops_cpu else {}),
              "counters": counters}
    return line, detail


def _run_jh11_split(spark, timer: _Timer, repeat: int) -> list[str]:
    """Time jh11's two phases and jh12's two under separate keys, with
    the same protocol as every other query:

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
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from jobhouse_spark.operators.entity import (  # noqa: PLC0415
        EntityGramIndex,
        build_entity_index,
        resolve_entities,
        resolve_entities_incremental,
        resolve_entities_incremental_indexed,
    )
    from jobhouse_spark.queries.jobhouse_gold import jh11_split_inputs  # noqa: PLC0415

    for rep in range(repeat):
        if rep:
            timer.between_repeats()
        day1, batch = jh11_split_inputs(spark)
        stored = timer.run("jh11_day0_resolve", lambda: resolve_entities(day1))
        timer.run("jh11_batch_apply", lambda: resolve_entities_incremental(
            batch, stored).orderBy("name"))
        idx_dir = tempfile.mkdtemp(prefix="jh_bench_idx_")
        try:
            timer.run("jh12_bootstrap", lambda: build_entity_index(day1),
                      lambda idx: idx.save(idx_dir))
            idx = EntityGramIndex.load(spark, idx_dir)
            timer.run("jh12_apply", lambda: resolve_entities_incremental_indexed(
                batch, stored, idx)[0].orderBy("name"))
        finally:
            shutil.rmtree(idx_dir, ignore_errors=True)
    return ["jh11_day0_resolve", "jh11_batch_apply", "jh12_bootstrap", "jh12_apply"]


if __name__ == "__main__":
    main()
