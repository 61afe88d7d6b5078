#!/usr/bin/env python3
"""Benchmark entry point: one workload, one process, one fresh SparkSession.

    python3 perfbench/run.py --workload mc_acceptance --seed 1 --seconds 5 --trace 0

Run from the repository root. The run launches the session several
times, each in a fresh JVM (`setup_s` is the median set-up), then
repeats the workload's fixed call sequence in a closed loop with one
client: pass 0 is cold, later passes are warm, and warm passes continue
until they have taken `--seconds` (at least three of them). Every call
is timed from outside, in wall time split into construct and execute,
and in CPU time of the whole process tree. Outputs are checked against
the DuckDB oracle after the timed region. With `--trace 1` the run also
tags each call with a job group, reads the status store after it, runs
the layer probes and writes the span tree to `.perfbench_out/`. The
last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}; the line before it is the full record (config, counts,
correctness notes, every metric).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_ROUNDS = 2
MIN_WARM = 3
MAX_WARM = 12


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    return ap.parse_args(argv)


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's start time
    (clock-tick resolution), so interpreter start-up is included."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it: the driver JVM, the PySpark daemon and its Python
    workers. Children that have exited count through their parent's
    `cutime`/`cstime`. Time the host stole from the guest is not CPU time."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        procs[int(name)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _ticks) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def preflight_env(work: str) -> dict:
    """Pin the environment before the JVM starts: cores, a driver heap
    below physical RAM, the package on the Python workers' path, and every
    scratch write inside the work dir."""
    cpus = len(os.sched_getaffinity(0))
    driver_mem_mb = min(2048, mem_total_mb() // 2)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_mb}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no hsperfdata files in /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--conf " + shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "--driver-java-options "
            + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "pyspark-shell",
        ]
    )
    sys.path.insert(0, ROOT)
    return {"cpus": cpus, "driver_mem_mb": driver_mem_mb}


def _identity_batches(batches):
    yield from batches


def warm_up(spark) -> None:
    """Generic warm-up, touching none of the workload's plans: one
    aggregation over a mapInPandas pass. It is also the pre-flight: the
    Python workers must start and round-trip every row before anything
    is timed."""
    from pyspark.sql import functions as F

    df = spark.range(200_000).mapInPandas(_identity_batches, "id long")
    got = df.groupBy((F.col("id") % 13).alias("k")).agg(F.count(F.lit(1)).alias("n")).collect()
    if sum(r["n"] for r in got) != 200_000:
        raise RuntimeError("mapInPandas pre-flight lost rows")


def setup(wl, rounds: int, startup_s: float) -> tuple:
    """Set up the session `rounds` times, each in a freshly launched JVM:
    `get_spark` plus input generation. Before each later round the
    previous session stops and its JVM exits (untimed). The warm-up runs
    once, in the last round's session, where the workload then runs.
    Interpreter start and the imports (`startup_s`) happen once per
    process. Each round's set-up time is startup + its own launch + the
    warm-up, so the median round is a whole process-start-to-first-call
    set-up."""
    from etl_sh_design_spark.session import get_spark

    launches, starts = [], []
    spark = None
    for _ in range(rounds):
        if spark is not None:
            stop_spark(spark)
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{wl.name}")
        starts.append(time.perf_counter() - t0)
        wl.make_inputs()
        launches.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    warm_up(spark)
    warm_s = time.perf_counter() - t0
    return spark, [startup_s + t + warm_s for t in launches], starts, warm_s


def run_pass(spark, wl, pass_no: int, tracer, pass_span) -> tuple[list[dict], dict]:
    """One pass of the workload's calls. Returns per-call records and the
    rows each successful call returned."""
    records, rows = [], {}
    for i, call in enumerate(wl.calls(spark, pass_no)):
        rec = {"pass": pass_no, "name": call.name, "module": call.module, "ok": True}
        group = f"p{pass_no:02d}.{i:02d}.{call.name}"
        if tracer:
            tracer.begin_call(group)
        cpu0 = tree_cpu_s()
        w0 = time.time()  # the epoch of Spark's job and stage timestamps
        t0 = t1 = time.perf_counter()
        try:
            df = call.construct()
            t1 = time.perf_counter()
            out = call.execute(df)
            t2 = time.perf_counter()
            if out is not None:
                rows[call.name] = out
        except Exception:
            traceback.print_exc(file=sys.stderr)
            rec["ok"] = False
            t2 = time.perf_counter()
        rec.update(construct_s=t1 - t0, execute_s=t2 - t1, wall_s=t2 - t0, cpu_s=tree_cpu_s() - cpu0)
        if tracer:
            w1, w2 = w0 + (t1 - t0), w0 + (t2 - t0)
            cspan = tracer.add_span(pass_span, call.name, "call", w0, w2, module=call.module)
            construct = tracer.add_span(cspan, "construct", "construct", w0, w1)
            execute = tracer.add_span(cspan, "execute", "execute", w1, w2)
            rec["counters"] = tracer.end_call(construct, execute, w1)
        records.append(rec)
    return records, rows


def retained_heap_mb(spark) -> float:
    """JVM heap in use after a full GC: what the session still holds
    (memos, checkpoints, cached blocks) once the passes are done. Spark's
    context cleaner frees the last jobs' shuffles and broadcasts only
    after GCs have found their owners unreachable, in several steps, so
    full GCs repeat until three readings in a row agree."""
    import gc

    gc.collect()  # drop Python references that pin JVM objects
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    readings: list[float] = []
    for _ in range(15):
        jvm.java.lang.System.gc()
        readings.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
        if len(readings) >= 3 and max(readings[-3:]) - min(readings[-3:]) < 1.0:
            break
        time.sleep(0.3)  # the cleaner's turn
    return readings[-1]


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def median_pass(passes, field: str) -> float:
    """The median warm pass, call by call: the sum over the pass's calls
    of each call's median `field` (wall_s or cpu_s) across `passes`. A
    burst of host load that slows one call in one pass and another call
    in the next moves this less than it moves the median of whole-pass
    totals."""
    per_call = zip(*([c[field] for c in ps["calls"]] for ps in passes))
    return sum(statistics.median(values) for values in per_call)


def quantile(values, q: float) -> float:
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[int(round(q * 100)) - 1]


def main(argv=None) -> int:
    args = parse_args(argv)
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    config = preflight_env(work)
    try:
        import etl_sh_design_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    import duckdb
    import pyspark

    startup_s = process_age_s()
    wl = WORKLOADS[args.workload](args.seed, os.path.join(work, "inputs"), tiny=args.tiny)
    spark = None
    try:
        spark, setup_times, start_times, warm_up_s = setup(wl, SETUP_ROUNDS, startup_s)
        config.update(
            master=spark.sparkContext.master,
            spark=pyspark.__version__,
            python=sys.version.split()[0],
            seed=args.seed,
            seconds=args.seconds,
            trace=args.trace,
            tiny=args.tiny,
            mapinpandas_preflight="ok",
        )
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            root_span = tracer.add_span(None, wl.name, "workload", time.time(), time.time())
        passes, results = [], []
        t_warm = None
        p = 0
        while True:
            traced = bool(tracer) and p % 2 == 0  # trace runs: cold + every other warm pass
            pspan = None
            if traced:
                pspan = tracer.add_span(root_span, f"pass {p}", "pass", time.time(), time.time())
            p0 = time.perf_counter()
            records, rows = run_pass(spark, wl, p, tracer if traced else None, pspan)
            wall = time.perf_counter() - p0
            if traced:
                tracer.spans[pspan].end = tracer.spans[pspan].start + wall
            passes.append({"pass": p, "wall_s": wall, "traced": traced, "calls": records})
            wl.after_pass(rows)
            results.append(rows)
            p += 1
            warm = p - 1
            if t_warm is None:
                t_warm = time.perf_counter()  # the warm passes' clock starts after pass 0
                continue
            elapsed = time.perf_counter() - t_warm
            # A traced run needs an untraced warm pass after the first to
            # compare the traced one with (trace.overhead_pct).
            if warm >= MAX_WARM or (warm >= MIN_WARM + args.trace and elapsed >= args.seconds):
                break
        rss_parts = (jvm_peak_rss_mb(spark), resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)
        retained = retained_heap_mb(spark)

        c0 = time.perf_counter()
        duck = duckdb.connect()
        checked, mismatches, notes = wl.check(spark, duck, results)
        duck.close()
        check_s = time.perf_counter() - c0

        calls = [c for ps in passes for c in ps["calls"]]
        attempted, failed = len(calls), sum(not c["ok"] for c in calls)
        warm_untraced = [ps for ps in passes[1:] if not ps["traced"]]
        warm_calls = [c["wall_s"] for ps in warm_untraced for c in ps["calls"]]
        e2e = {
            "setup_s": (statistics.median(setup_times), "s"),
            "cold_pass_cpu_s": (sum(c["cpu_s"] for c in passes[0]["calls"]), "s"),
            "warm_pass_cpu_s": (median_pass(warm_untraced, "cpu_s"), "s"),
            "retained_heap_mb": (retained, "MB"),
        }
        # Record-only. Pass wall times move with the host's load by more
        # than the bound from one run to the next; the warm calls are a
        # few call types, so p50 falls between two of them and p90 has
        # fewer than ten samples beyond it; peak RSS follows the
        # collector's heap sizing more than the program; the two
        # correctness metrics are 0 on a correct run.
        extra = {
            "cold_pass_s": (passes[0]["wall_s"], "s"),
            "warm_pass_s": (median_pass(warm_untraced, "wall_s"), "s"),
            "peak_rss_mb": (sum(rss_parts), "MB"),
            "call_p50_s": (quantile(warm_calls, 0.5), "s"),
            "call_p90_s": (quantile(warm_calls, 0.9), "s"),
            "ops_failed_ratio": (failed / attempted, "ratio"),
            "oracle_mismatches": (mismatches, "count"),
        }
        record = {
            "workload": wl.name,
            "config": config,
            "startup_s": startup_s,
            "session_starts_s": start_times,
            "warm_up_s": warm_up_s,
            "setup_rounds_s": setup_times,
            "peak_rss_jvm_python_mb": rss_parts,
            "passes": [
                {
                    **{k: v for k, v in ps.items() if k != "calls"},
                    "calls": [
                        [c["name"], c["construct_s"], c["execute_s"], c["cpu_s"]] for c in ps["calls"]
                    ],
                }
                for ps in passes
            ],
            "warm_call_samples": len(warm_calls),
            "outputs_checked": checked,
            "check_s": check_s,
            "check_notes": notes,
        }
        if tracer:
            from layers import layer_metrics

            tracer.spans[root_span].end = time.time()
            metrics = layer_metrics(spark, tracer, wl, passes, start_times, work)
            record["failed_tasks"] = sum(
                c["counters"].failed_tasks for ps in passes for c in ps["calls"] if "counters" in c
            )
            os.makedirs(out_dir, exist_ok=True)
            trace_path = os.path.join(out_dir, f"trace-{wl.name}-seed{args.seed}.json")
            tracer.write(trace_path)
            record["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            metrics = e2e
        record["metrics"] = {
            k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **extra, **metrics}.items()
        }
        result = {
            "correct": failed == 0 and mismatches == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit. The
    gateway is cleared, so the next session launches a new JVM."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
