#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload star_analytics --seed 1 --seconds 8 --trace 0

Run from anywhere; the engine is imported from the directory above this
one. Each run is one process with its own Spark session on
``local[<cores>]``, its own ``SPARK_LOCAL_DIRS``, temp dir and warehouse
under ``.perfbench/run-<pid>/``, all removed at exit. The inputs are the
shipped test tables in ``data/sf<scale>/`` (``--scale``, default 0.01),
read in place; the seed only permutes query order.

A run is a cold first pass followed by a fixed number of steady passes:
as many as fill ``--seconds`` at the workload's nominal warm pass time
(``steady_passes``), so the same ``--seconds`` always measures the same
work however fast the host is that day. Outputs are checked outside the
timed passes. The end-to-end metrics are ``setup_s``, the cold pass's wall
``first_pass_s``, and ``pass_cpu_s``, the mean work CPU time (see
``work_cpu_ticks``) of the steady passes. The last stdout line is the
result object; the line before it is the run record (seed, commit, host,
versions, session settings, pass walls and their median ``pass_s``, oracle
verdicts).

With ``--trace 1`` the first pass is traced and the steady passes
alternate untraced, traced, untraced, ...; traced passes record spans
around calls into the engine's layers and tag their Spark jobs with job
groups. The per-layer metrics
come from the traced passes; the difference between the traced and
untraced pass walls of the same run (both with the traced run's event log
on) is the tracing overhead. Spans, per-operation detail and the
Spark accounting are written to ``.perfbench/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import statistics
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import layers  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from spans import EVENT_LOG_CONF, ExecutedPlans, Tracer, read_event_log  # noqa: E402

DATA = os.path.join(HERE, "data")
# Scale factors of the shipped tables under ``DATA``: the benchmark's, and
# the self-tests' smoke runs.
SCALES = ("0.01", "0.001")
# Fewest steady passes a run makes; ``pass_cpu_s`` is their mean. The JVM
# is still compiling ``star_analytics``'s code paths over these passes, so
# its work threads' CPU falls from pass to pass, by amounts that vary from
# run to run; the mean over three varies less than any one pass or the
# least of them. A second ``medallion_build`` pass does not fit the time
# budget; its first steady pass varies less.
MIN_STEADY = {workloads.STAR: 3, workloads.MEDALLION: 1}
# Traced runs need an untraced steady pass on each side of a traced one,
# so that warm-up drift cancels out of the overhead estimate.
MIN_STEADY_TRACED = 3
E2E_METRICS = ("setup_s", "first_pass_s", "pass_cpu_s")
# JVM threads whose CPU time ``work_cpu_ticks`` leaves out: HotSpot's JIT
# compilers and G1's collector threads (``comm`` keeps a thread name's first
# 15 characters). Their work comes in bursts set by warm-up and heap state,
# and lands in one pass or another.
JVM_SERVICE_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ")
# Per-layer metrics reported next to ``layers.pass_layers``'s.
RUN_LAYER_METRICS = ("session.get_spark_s", "failed_ops_ratio", "stored_bytes_per_input_byte",
                     "trace.pass_s", "trace.untraced_pass_s", "trace.overhead_s")
# Stop adding passes after this long, so a slow host still exits in time.
DEADLINE_S = 120.0
WAREHOUSE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                    "lineitem", "events")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=SCALES, default="0.01",
                   help="scale factor of the shipped input tables")
    return p.parse_args(argv)


def _proc_tree(root_pid: int) -> list[int]:
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(entry))
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children[pid])
    return tree


def peak_rss_mb() -> float:
    """Peak resident memory of this process tree, in MiB: the kernel's
    high-water mark (``VmHWM``) of the Python driver, the Spark JVM and the
    JVM's Python workers, summed. Read once, just before the session stops,
    so nothing samples the JVM while it works."""
    total_kb = 0
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total_kb / 1024


def spark_jvms() -> list[int]:
    """Pids of Spark JVMs running on this host."""
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/cmdline", "rb") as fh:
                    if b"org.apache.spark.deploy.SparkSubmit" in fh.read():
                        pids.append(int(entry))
            except OSError:
                continue
    return pids


def stop_spark(spark) -> None:
    """Stop the session and its JVM and wait until the JVM and every
    process it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = _proc_tree(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and _is_running(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def _is_running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def git_commit() -> str | None:
    """HEAD of the checkout, or None when it is not a git repository (git is
    not asked then, so it cannot report a repository further up)."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def mem_total_kb() -> int | None:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return None


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave other guests while this host's vCPUs
    were runnable, summed over vCPUs (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _cpu_ticks(stat_path: str, fields: slice) -> tuple[str, int]:
    """(name, summed CPU tick fields) of a ``/proc/.../stat`` file."""
    with open(stat_path) as fh:
        raw = fh.read()
    head, tail = raw.rsplit(")", 1)
    return head.split("(", 1)[1], sum(int(v) for v in tail.split()[fields])


def work_cpu_ticks() -> dict:
    """CPU clock ticks used so far by each thread of the Spark JVM, except
    its JIT-compiler and garbage-collector threads, and by each other
    process of this tree (the Python driver and the JVM's Python workers,
    with their reaped children)."""
    ticks = {}
    for pid in _proc_tree(os.getpid()):
        try:
            name, total = _cpu_ticks(f"/proc/{pid}/stat", slice(11, 15))
            tids = os.listdir(f"/proc/{pid}/task") if name == "java" else None
        except (OSError, IndexError, ValueError):
            continue  # the process ended while it was read
        if tids is None:
            ticks[pid, None] = total  # utime, stime, cutime, cstime
            continue
        for tid in tids:
            try:
                thread, used = _cpu_ticks(f"/proc/{pid}/task/{tid}/stat", slice(11, 13))
            except (OSError, IndexError, ValueError):
                continue
            if not thread.startswith(JVM_SERVICE_THREADS):
                ticks[pid, tid] = used
    return ticks


def work_cpu_s(before: dict, after: dict) -> float:
    """CPU seconds used between two ``work_cpu_ticks`` snapshots. A thread
    or process that started in between counts from zero; one that ended in
    between is left out."""
    return sum(t - before.get(k, 0) for k, t in after.items()) / os.sysconf("SC_CLK_TCK")


class Meter:
    """Measures one pass: wall time, the CPU time other guests stole from
    the host's vCPUs, and the work CPU time of the engine (``work_cpu_s``)."""

    def __enter__(self):
        self._steal0, self._cpu0 = cpu_steal_s(), work_cpu_ticks()
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        self.steal_s = cpu_steal_s() - self._steal0
        self.cpu_s = work_cpu_s(self._cpu0, work_cpu_ticks())


class Pass:
    __slots__ = ("no", "traced", "wall", "steal_s", "cpu_s", "ops", "verdicts", "stored_bytes")

    def __init__(self, no, traced, meter: Meter, ops, verdicts=None, stored_bytes=0):
        self.no, self.traced, self.ops = no, traced, ops
        self.wall, self.steal_s, self.cpu_s = meter.end - meter.start, meter.steal_s, meter.cpu_s
        self.verdicts, self.stored_bytes = verdicts or {}, stored_bytes


def steady_passes(workload: str, seconds: float, tracing: bool) -> int:
    """Number of steady passes a run makes: ``seconds`` of them at the
    workload's nominal pass time, odd when tracing so that untraced passes
    surround every traced one."""
    n = max(round(seconds / workloads.NOMINAL_PASS_S[workload]), MIN_STEADY[workload])
    if tracing:
        n = max(n | 1, MIN_STEADY_TRACED)
    return n


def _traced(pass_no: int, tracing: bool) -> bool:
    return tracing and pass_no % 2 == 0


def _pass_numbers(n_steady: int):
    """Pass numbers 0 (cold) to ``n_steady``; stops early once the run has
    taken ``DEADLINE_S``, so a very slow host still exits in time."""
    t0 = time.perf_counter()
    for pass_no in range(n_steady + 1):
        if pass_no > MIN_STEADY_TRACED and time.perf_counter() - t0 > DEADLINE_S:
            return
        yield pass_no


def measure_queries(spark, data_dir, names, seed, n_steady, tracer, check):
    """Query passes. Between the cold pass and the steady ones, ``check``
    gets the cold pass's DataFrames and returns the oracle verdicts: the
    steady passes then follow the checks' re-execution of every query, as
    the third execution rather than the second, for the same run time.
    Returns the passes and the verdicts."""
    from market_flow_spark import tables

    rng = random.Random(seed)
    passes: list[Pass] = []
    verdicts = {}
    for pass_no in _pass_numbers(n_steady):
        if pass_no == 1:
            verdicts = check(frames)
        frames = {}
        traced = _traced(pass_no, tracer is not None)
        order = list(names)
        rng.shuffle(order)
        if traced:
            tracer.pass_no = pass_no
            tracer.wrap(tables, "load_table", "tables.load")
        with Meter() as meter:
            try:
                ops = workloads.query_pass(spark, data_dir, order, pass_no,
                                           tracer if traced else None, frames)
            finally:
                if traced:
                    tracer.unwrap_all()
        passes.append(Pass(pass_no, traced, meter, ops))
    return passes, verdicts


def _sink_attrs(args) -> dict:
    path = args[1]
    name = os.path.basename(path)
    layer = "staging" if "/staging/" in path else "dims" if name.startswith("dim_") else "analytics"
    return {"op": name, "layer": layer, "path": path}


def _install_medallion_tracing(tracer: Tracer) -> None:
    from market_flow_spark import quality, tables
    from market_flow_spark.plans import pipeline

    tracer.wrap(tables, "load_table", "tables.load")
    tracer.wrap(pipeline, "export_parquet", "sinks.write", group=True, attrs=_sink_attrs)
    for layer in layers.PIPELINE_LAYERS:
        tracer.wrap(pipeline, f"build_{layer}", f"pipeline.{layer}")
    tracer.wrap(pipeline, "run_star_schema_checks", "quality.gate", group=True,
                attrs=lambda a: {"op": "quality_gate"})
    for check in ("check_not_null", "check_unique", "check_relationship"):
        tracer.wrap(quality, check, "quality.check", group=True,
                    attrs=lambda a, c=check: {"op": f"{c}:{a[-1]}.{a[1]}"})


def measure_medallion(spark, data_dir, warehouse, n_steady, tracer, con) -> list[Pass]:
    recorder = workloads.MedallionOps()
    recorder.install()
    passes: list[Pass] = []
    try:
        for pass_no in _pass_numbers(n_steady):
            traced = _traced(pass_no, tracer is not None)
            if traced:
                tracer.pass_no = pass_no
                tracer.op = "pipeline"
                _install_medallion_tracing(tracer)
            out = os.path.join(warehouse, f"pass{pass_no}")
            with Meter() as meter:
                try:
                    run = workloads.medallion_pass(spark, data_dir, out, recorder, pass_no)
                finally:
                    if traced:
                        tracer.unwrap_all()
            if traced:
                for s in tracer.spans:
                    if s["name"] == "sinks.write" and s["pass"] == pass_no:
                        s["bytes"], s["files"] = workloads.dir_size(s["path"])
            verdicts = workloads.check_medallion(run, con)
            stored = workloads.dir_size(out)[0]
            shutil.rmtree(out, ignore_errors=True)
            ops = [o for o in recorder.ops if o.pass_no == pass_no]
            passes.append(Pass(pass_no, traced, meter, ops, verdicts, stored))
    finally:
        recorder.uninstall()
    return passes


def _op_failed(op, verdicts: dict) -> bool:
    if op.error or verdicts.get("run_pipeline") or verdicts.get(op.name):
        return True
    return op.name.startswith("check_") and bool(verdicts.get("quality_gate"))


def main(argv=None) -> int:
    args = parse_args(argv)
    need = ("market_flow_spark/__init__.py", "tests/oracle_utils.py")
    missing = [p for p in need if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources not found under {ROOT}: {missing}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        record, result = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


def run(args, work: str):
    data_dir = os.path.join(DATA, f"sf{args.scale}")
    dirs = {k: os.path.join(work, k) for k in ("local", "tmp", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    others = spark_jvms()
    if others:
        print(f"perfbench: warning: Spark JVM(s) {others} already running; "
              "timings may be inflated", file=sys.stderr)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = tempfile.tempdir = dirs["tmp"]
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.chdir(work)
    phases = {}
    cores = len(os.sched_getaffinity(0))
    tracing = bool(args.trace)
    n_steady = steady_passes(args.workload, args.seconds, tracing)

    from market_flow_spark.session import get_spark

    extra = {**EVENT_LOG_CONF, "spark.eventLog.dir": "file://" + dirs["eventlog"]} if tracing else None
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=cores, extra_conf=extra)
    get_spark_s = time.perf_counter() - t0
    spark.range(1).count()
    setup_s = time.perf_counter() - t0
    tracer = Tracer(spark.sparkContext) if tracing else None
    if tracing and args.workload == workloads.STAR:
        tracer.plans = ExecutedPlans(spark)
    try:
        conf = {
            k: spark.conf.get(k, None)
            for k in ("spark.master", "spark.sql.shuffle.partitions", "spark.driver.memory",
                      "spark.sql.adaptive.enabled")
        }
        spark_version = spark.version
        con = workloads.oracle_connection(data_dir)
        t_phase = time.perf_counter()
        if args.workload == workloads.MEDALLION:
            passes = measure_medallion(spark, data_dir, dirs["warehouse"], n_steady,
                                       tracer, con)
            verdicts = {f"pass{p.no}:{k}": v for p in passes for k, v in p.verdicts.items()}
        else:
            names = workloads.star_ops()
            passes, verdicts = measure_queries(
                spark, data_dir, names, args.seed, n_steady, tracer,
                lambda frames: workloads.check_queries(spark, data_dir, names, con, frames))
            for p in passes:
                p.verdicts = verdicts
        phases["passes_and_checks_s"] = time.perf_counter() - t_phase
        con.close()
    finally:
        peak_rss = peak_rss_mb()
        if tracer is not None and tracer.plans is not None:
            tracer.plans.close()
        t_phase = time.perf_counter()
        stop_spark(spark)
        phases["stop_s"] = time.perf_counter() - t_phase

    all_ops = [(op, p.verdicts) for p in passes for op in p.ops]
    failed = sum(_op_failed(op, v) for op, v in all_ops)
    steady = [p for p in passes[1:] if not p.traced]
    latencies = [op.latency for p in steady for op in p.ops]
    input_bytes = sum(
        os.path.getsize(os.path.join(data_dir, f"{t}.parquet")) for t in WAREHOUSE_TABLES
    )
    stored = [p.stored_bytes for p in passes[1:]]
    derived = {
        "failed_ops_ratio": failed / len(all_ops),
        "stored_bytes_per_input_byte": statistics.median(stored) / input_bytes if stored else 0.0,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_commit": git_commit(),
        "nproc": cores,
        "mem_total_kb": mem_total_kb(),
        "python": platform.python_version(),
        "spark": spark_version,
        "session_conf": conf,
        "concurrent_spark_jvms": others,
        "inputs": os.path.relpath(data_dir, ROOT),
        "star_sample": workloads.sample_coverage(workloads.load_star_profile(),
                                                 workloads.star_ops())
        if args.workload == workloads.STAR else None,
        "steady_passes": n_steady,
        "pass_walls_s": [round(p.wall, 4) for p in passes],
        "pass_s": statistics.median([p.wall for p in steady]) if steady else None,
        "pass_cpu_s": [round(p.cpu_s, 2) for p in passes],
        # host noise: CPU stolen by other guests during each pass
        "pass_steal_s": [round(p.steal_s, 2) for p in passes],
        "traced_passes": [p.no for p in passes if p.traced],
        "op_latency_s": {p.no: {op.name: round(op.latency, 4) for op in p.ops} for p in passes},
        "samples": len(latencies),
        # only when the sample-count rule allows it (longer ``--seconds``)
        "query_p50_s": stats.percentile(latencies, 50)
        if len(latencies) >= stats.min_samples(50) else None,
        "peak_rss_mb": peak_rss,
        "verdicts": verdicts,
        "errors": sorted({op.error for op, _ in all_ops if op.error}),
        "run_phases_s": {"setup_s": setup_s, **phases},
        **derived,
    }
    if tracing:
        metrics = traced_metrics(args, tracer, passes, dirs["eventlog"], cores, get_spark_s,
                                 derived, record)
        section = "per_layer"
    else:
        metrics = {
            "setup_s": setup_s,
            "first_pass_s": passes[0].wall,
            "pass_cpu_s": statistics.mean([p.cpu_s for p in steady]),
        }
        section = "end_to_end"
    units = bench_units(section)
    result = {
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return record, result


def traced_metrics(args, tracer, passes, log_dir, cores, get_spark_s, derived, record):
    accs = read_event_log(log_dir)
    traced_steady = [p.no for p in passes[1:] if p.traced]
    metrics = layers.layer_metrics(tracer.spans, accs, cores, 0, traced_steady)
    traced_s = statistics.median([p.wall for p in passes[1:] if p.traced])
    untraced_s = statistics.median([p.wall for p in passes[1:] if not p.traced])
    metrics.update(derived)
    metrics.update({
        "session.get_spark_s": get_spark_s,
        "trace.pass_s": traced_s,
        "trace.untraced_pass_s": untraced_s,
        "trace.overhead_s": traced_s - untraced_s,
    })
    out = os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-seed{args.seed}.json")
    with open(out, "w") as fh:
        json.dump({
            "record": record,
            "layers": metrics,
            "ops": layers.op_detail(tracer.spans, accs),
            "spans": tracer.spans,
            "self_time_s": tracer.self_times(),
            "job_groups": accs,
        }, fh, indent=1, default=str)
    record["trace_file"] = os.path.relpath(out, ROOT)
    return metrics


def bench_units(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec[section]}


if __name__ == "__main__":
    sys.exit(main())
