"""jobhouse-spark benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload analyst_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run pins its deployment settings
(Spark task threads = nproc, a driver heap that fits the host, local and
temp dirs in its own dir under ``.perfbench_work/``), generates the
workload's inputs from the seed before the clock (cached per seed),
bootstraps, runs a fixed warm-up, then runs ops back to back with one
client until ``--seconds`` have passed and at least one op ran (three in
a traced run: untraced, traced, untraced). Outputs are checked after the
timed window. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``); the line before it
carries op latency, throughput, CPU and the deployment. See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
HARD_STOP_S = 120.0     # the timed window never runs past this
DEADLINE_S = 170        # a run that has not finished by then kills its JVM and fails

def declared_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them: the end-to-end
    metrics for an untraced run, the per-layer metrics for a traced one.
    Op latency, throughput and CPU are not among the end-to-end metrics
    (NOTES.md); the info line carries them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def deployment(run_dir: str) -> dict[str, str]:
    """Pin the settings the engine reads from the environment. Never the
    session factory's fallbacks (local[32], a 48g heap)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    heap_mb = max(1024, min(4096, total_mb // 4))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    }
    for d in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[d])
    os.environ.update(env)
    return env


def fresh_run_dir() -> str:
    """A scratch dir for this process; removes those of dead runs."""
    os.makedirs(WORK, exist_ok=True)
    for name in os.listdir(WORK):
        if name.startswith("run-") and not os.path.exists(f"/proc/{name[4:]}"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    return run_dir


def kill_children(pid: int | str = "self") -> None:
    """SIGKILL every descendant process, deepest first."""
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return
    for t in tasks:
        try:
            with open(f"/proc/{pid}/task/{t}/children") as fh:
                kids = fh.read().split()
        except OSError:
            continue
        for k in kids:
            kill_children(k)
            try:
                os.kill(int(k), signal.SIGKILL)
                os.waitpid(int(k), 0)
            except (OSError, ChildProcessError):
                pass


def watchdog(signum, frame) -> None:
    print(f"perfbench: no result within {DEADLINE_S} s; stopping", file=sys.stderr)
    kill_children()
    os._exit(3)


def git_revision() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return "unknown (not a git checkout)"
    return lines[1]


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def stop_spark(spark) -> None:
    """Stop the context, then the JVM the gateway started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()      # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("analyst_mix", "daily_etl"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the program under test must be in this checkout
    for rel in ("BENCHMARK.json", "jobhouse_spark/__init__.py", "jobhouse_spark/session.py",
                "tests/oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            print(f"perfbench: {rel} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    signal.signal(signal.SIGALRM, watchdog)
    signal.alarm(DEADLINE_S)
    sys.path.insert(0, ROOT)
    run_dir = fresh_run_dir()
    env = deployment(run_dir)

    from perfbench import gen
    from perfbench.trace import JvmProbe, Tracer, host_steal_s, proc_status_mb
    from perfbench.workloads import WORKLOADS

    inputs, summary = gen.ensure(args.workload, args.seed, WORK)
    wl = WORKLOADS[args.workload](inputs, run_dir, args.seed)
    wl.prepare()

    # ---- set-up clock: session start, bootstrap, fixed warm-up ----------
    t_setup = time.perf_counter()
    from jobhouse_spark.session import get_spark

    tmp = env["TMPDIR"]
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    session_start_s = time.perf_counter() - t_setup
    try:
        probe = JvmProbe(spark)
        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        wl.attach(spark, tracer)
        with tracer.span("bootstrap"):
            wl.setup()
        with tracer.span("warmup"):
            wl.warmup()
        setup_s = time.perf_counter() - t_setup

        # ---- timed window ------------------------------------------------
        lat: dict[int, float] = {}
        errors: dict[int, str] = {}
        gc_op: dict[int, float] = {}
        cpu_op: dict[int, float] = {}
        traced_ops: list[int] = []
        cpu0, steal0 = probe.cpu_s(), host_steal_s()
        t0 = time.perf_counter()
        i = 0
        while True:
            # a traced run alternates untraced and traced ops, starting and
            # ending untraced, so a linear warm-up trend cancels in the stated
            # tracing overhead: median traced op minus median untraced op
            tracer.enabled = bool(args.trace) and i % 2 == 1
            if tracer.enabled:
                traced_ops.append(i)
            tracer.op = i
            g0, c0, a = probe.gc_s(), probe.cpu_s(), time.perf_counter()
            try:
                with tracer.span("op"):
                    wl.op(i)
            except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
                errors[i] = traceback.format_exc(limit=3)
                print(errors[i], file=sys.stderr)
            lat[i] = time.perf_counter() - a
            gc_op[i], cpu_op[i] = probe.gc_s() - g0, probe.cpu_s() - c0
            if args.trace and i not in errors:
                with tracer.aside():
                    wl.observe(i, tracer.enabled)
            i += 1
            elapsed = time.perf_counter() - t0
            if ((elapsed >= args.seconds and i >= 1 + 2 * args.trace
                 and (not args.trace or i % 2 == 1))
                    or elapsed >= HARD_STOP_S or wl.exhausted()):
                break
        window_s = time.perf_counter() - t0
        cpu_s, steal_s = probe.cpu_s() - cpu0, host_steal_s() - steal0
        heap_rounds, py_rss_mb = probe.heap_after_gc_mb(), proc_status_mb("self", "VmRSS")
        jvm_heap_mb = min(heap_rounds)
        tracer.enabled = bool(args.trace)
        tracer.op = -2

        # ---- output check, outside the window ------------------------------
        ops = sorted(lat)
        good_ops = [o for o in ops if o not in errors]
        wrong, detail = wl.check(good_ops) if good_ops else (set(), {})
        failed = set(errors) | set(wrong)

        query_lat = [s.duration for s in tracer.spans.values()
                     if s.parent is not None and tracer.spans[s.parent].name == "op"
                     and s.op >= 0] if tracer.spans else []
        if args.trace:
            metrics = layer_metrics(wl, tracer, traced_ops, lat, gc_op, cpu_op,
                                    session_start_s, probe, summary)
            metrics["queries.p90_s"] = quantile(query_lat, 0.9)
        else:
            metrics = {"setup_s": setup_s, "heap_retained_mb": jvm_heap_mb + py_rss_mb}
        units = declared_units(bool(args.trace))
        info = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "deployment": {**env, "nproc": str(len(os.sched_getaffinity(0))),
                           "pyspark": spark.version, "git_revision": git_revision()},
            "session_start_s": session_start_s,
            "setup_spans_s": {s.name: s.duration for s in tracer.spans.values()
                              if s.op == -1 and s.parent is None},
            "ops": len(ops), "warmup_ops": wl.warmup_ops, "window_s": window_s,
            "op_p50_s": statistics.median(lat.values()),
            "ops_per_s": len(good_ops) / window_s,
            "cpu_s_per_op": cpu_s / len(ops),
            "host_steal_s": steal_s,
            "jvm_heap_after_gc_mb": heap_rounds, "python_rss_mb": py_rss_mb,
            "op_latencies_s": [lat[o] for o in ops],
            "query_samples": len(query_lat),
            "query_samples_beyond_p90": sum(1 for q in query_lat if query_lat and
                                            q > quantile(query_lat, 0.9)),
            "failed_op_ratio": len(failed) / len(ops),
            "check": detail,
        }
        print("perfbench info " + json.dumps(info, default=str))
        print(json.dumps({
            "correct": not failed,
            "attempted": len(ops),
            "failed": len(failed),
            "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                        for k, u in units.items()},
        }))
        return 0
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def layer_metrics(wl, tracer, traced_ops, lat, gc_op, cpu_op, session_start_s,
                  probe, summary) -> dict[str, float]:
    """Per-layer values from the traced ops. Times are medians over traced
    ops of each layer's per-op self time (inclusive time for a panel);
    Spark counters come from the first traced op, so that for one seed
    they repeat exactly."""
    tracer.collect_counters()
    rows = tracer.per_op(traced_ops + [-1])
    setup_rows = rows.pop(-1)
    untraced = [lat[o] for o in lat if o not in traced_ops]
    med = statistics.median
    m: dict[str, float] = {"session.start_s": session_start_s,
                           "session.peak_rss_mb": probe.peak_rss_mb()}
    first = rows[traced_ops[0]]
    root = first["op"]
    m.update({f"spark.{k}": root[k] for k in ("jobs", "stages", "tasks", "shuffle_mb",
                                               "spill_mb", "executor_cpu_s",
                                               "failed_tasks")})
    m["tables.input_mb"] = root["input_mb"]
    m["session.gc_s"] = med(gc_op[o] for o in traced_ops)
    m["queries.driver_cpu_s"] = med(cpu_op[o] - rows[o]["op"]["executor_cpu_s"]
                                    for o in traced_ops)
    names = {n for r in rows.values() for n in r} - {"op"}
    for n in names:
        key = "total_s" if n.startswith("queries.") and n not in (
            "queries.build", "queries.exec") else "self_s"
        m[f"{n}_s"] = med(rows[o].get(n, {}).get(key, 0.0) for o in traced_ops)
    jobs = {"operators.entity.jobs": "operators.entity.apply",
            "operators.similarity.jobs": "operators.similarity.pairs",
            "operators.graph.cc_jobs": "operators.graph.cc"}
    for metric, span in jobs.items():
        m[metric] = first.get(span, {}).get("jobs", 0)
    for n, r in setup_rows.items():
        if n.endswith(".bootstrap"):
            m[f"{n}_s"] = r["total_s"]
    extras = [wl.extras[o] for o in traced_ops if o in wl.extras]
    for k in (extras[0] if extras else {}):
        m[k] = med(e[k] for e in extras)
    if extras and "_fetched_mb" in extras[0]:
        m["storage.write_amplification"] = med(e["_written_mb"] / e["_fetched_mb"]
                                               for e in extras)
    m["op.latency_s"] = med(untraced)
    m["op.cpu_s"] = med(cpu_op[o] for o in lat if o not in traced_ops)
    m["trace.op_p50_s"] = med(lat[o] for o in traced_ops)
    m["trace.overhead_s"] = m["trace.op_p50_s"] - m["op.latency_s"]
    for k, v in summary.items():
        m[f"inputs.{k}"] = v
    if hasattr(wl, "bucket_max"):
        m["inputs.lsh_bucket_max"] = wl.bucket_max()
    return m


if __name__ == "__main__":
    sys.exit(main())
