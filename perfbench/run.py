#!/usr/bin/env python3
"""Lakehouse engine benchmark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload {queries,lakehouse} --seed N \\
        --seconds S --trace {0,1}

One Python process runs the engine on ``local[<nproc>]`` through its
public API, with the session from ``session.get_spark(master=...)`` and
no configuration overrides. One closed-loop client issues the
workload's operations one after another -- query passes for
``--seconds`` seconds and at least a minimum number of passes, or the
lakehouse's fixed bulk load and day-N cycle -- then checks the outputs.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it holds the run's details: the
workload-specific figures, what the run ran on, and any errors.
Every file the run writes lives under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` (span dumps of traced runs) in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "pass_p50_s": "s",
    "op_geomean_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.build_s": "s",
    "plans.execute_s": "s",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "readers.load_table_s": "s",
    "readers.load_table_calls": "count",
    "functions.python_total_ms": "ms",
    "functions.python_boot_ms": "ms",
    "functions.python_bytes": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.aqe_reused_exchanges": "count",
    "spark.aqe_shuffle_partitions": "count",
    "pipeline.ingest_bronze_s": "s",
    "pipeline.promote_silver_s": "s",
    "pipeline.build_gold_s": "s",
    "pipeline.incremental_fact_update_s": "s",
    "quality.run_s": "s",
    "quality.split_s": "s",
    "operators.extend_dense_surrogate_key_s": "s",
    "operators.build_fact_transactions_s": "s",
    "writers.write_lake_table_s": "s",
    "writers.write_lake_table_calls": "count",
    "writers.read_lake_table_s": "s",
    "writers.read_lake_table_calls": "count",
    "writers.replace_lake_rows_s": "s",
    "writers.upsert_lake_table_s": "s",
    "writers.lake_files": "count",
    "writers.lake_bytes": "bytes",
    "deltalog.merge_into_delta_table_s": "s",
    "deltalog.read_delta_table_s": "s",
    "deltalog.read_delta_table_calls": "count",
    "deltalog.write_delta_commit_s": "s",
    "deltalog.commits": "count",
    "deltalog.log_bytes": "bytes",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_rows": "count",
    "session.self_s": "s",
    "plans.self_s": "s",
    "readers.self_s": "s",
    "pipeline.self_s": "s",
    "quality.self_s": "s",
    "operators.self_s": "s",
    "writers.self_s": "s",
    "deltalog.self_s": "s",
    "streaming.self_s": "s",
    "trace.pass_p50_s": "s",
    "trace.op_geomean_s": "s",
    "trace.top_span_coverage": "fraction",
    "trace.spans": "count",
    "trace.passes": "count",
}
# span-derived names that the metric table spells differently
RENAMES = {"quality.get_valid_invalid_dfs_s": "quality.split_s"}
# units of the workload figures on the detail line
FIGURE_UNITS = {
    "pass_p50_s": "s",
    "op_geomean_s": "s",
    "cold_setup_s": "s",
    "query_set_s": "s",
    "query_geomean_s": "s",
    "load_rows_per_s": "rows/s",
    "refresh_p50_s": "s",
    "microbatch_p50_s": "s",
    "stream_rows_per_s": "rows/s",
    "stream_s": "s",
    "stored_bytes_ratio": "bytes/byte",
    "peak_rss_mb": "MB",
    "failed_frac": "fraction",
}


def cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) of the host, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def process_age_s() -> float:
    """Seconds since this process started (interpreter start-up included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _pyspark_workers() -> list[int]:
    """Python worker processes of this process group still alive."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                pgrp = int(f.read().rsplit(")", 1)[1].split()[2])
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if pgrp == os.getpgrp() and b"pyspark" in cmd and int(pid) != os.getpid():
            pids.append(int(pid))
    return pids


def stop_spark() -> None:
    """Stop the session and the driver JVM, and wait until the JVM and
    its Python workers have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 10
    while _pyspark_workers() and time.time() < deadline:
        time.sleep(0.1)


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fintech_lakehouse_spark", "__init__.py")):
        print(
            "perfbench: the fintech_lakehouse_spark package is not next to "
            f"perfbench/ in {ROOT}; run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep the engine's scratch files (shuffle, spills, JVM temp) in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.chdir(work)
    steal0 = cpu_times()
    try:
        result, detail = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_spark()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    steal1 = cpu_times()
    detail["env"]["steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


def run(args, work: str):
    import pyspark

    import workloads
    from fintech_lakehouse_spark import session

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install()
    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    state = workloads.Run(args.seed, args.seconds, tracer)
    wl = workloads.WORKLOADS[args.workload](state)

    # set-up, several times: (re)start the session and stage the inputs.
    # The first starts with the process (interpreter, JVM launch); the
    # next ones each start after the previous session has stopped.
    setups = []
    t0 = time.perf_counter() - process_age_s()
    for rep in range(SETUP_REPS):
        if rep:
            state.spark.stop()
            t0 = time.perf_counter()
        state.spark = session.get_spark(master=master)
        state.spark.sparkContext.setLogLevel("ERROR")
        wl.stage(os.path.join(work, f"setup{rep}"))
        setups.append(time.perf_counter() - t0)
    t_warm = time.perf_counter()
    wl.warm_up()
    warmup_s = time.perf_counter() - t_warm

    t_w0 = time.perf_counter()
    wl.timed()
    t_w1 = time.perf_counter()
    wl.check()
    figures = wl.figures()

    jvm_pid = state.spark.sparkContext._gateway.proc.pid
    rss_kb = vm_hwm_kb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    e2e = {
        "setup_s": statistics.median(setups),
        "pass_p50_s": figures["pass_p50_s"],
        "op_geomean_s": figures["op_geomean_s"],
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "traced": bool(args.trace),
        "env": {
            "nproc": nproc,
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
        },
        "setup_reps_s": setups,
        "warmup_s": warmup_s,
        "window_s": t_w1 - t_w0,
        "passes_s": state.passes,
        "figures": {
            k: {"value": v, "unit": FIGURE_UNITS[k]}
            for k, v in {
                **figures,
                "cold_setup_s": setups[0],
                "peak_rss_mb": rss_kb / 1024.0,
                "failed_frac": state.failed / max(1, state.attempted),
            }.items()
        },
        "op_medians_s": {k: statistics.median(v) for k, v in state.ops.items()},
        "errors": state.errors[:20],
    }
    if tracer is None:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        tracer.uninstall()
        layer = per_layer(tracer, state, t_w0, t_w1, figures)
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tracer.write(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
        detail["per_layer"] = layer
    result = {
        "correct": state.failed == 0,
        "attempted": state.attempted,
        "failed": state.failed,
        "metrics": metrics,
    }
    return result, detail


def per_layer(tracer, state, t_w0: float, t_w1: float, figures: dict) -> dict:
    """Per-layer figures of a traced run: span totals and self times
    over the timed window, Spark counters as per-pass medians, and the
    workload's own layer readings."""
    out = {}
    for name, value in tracer.layer_metrics(t_w0, t_w1, state.op_windows).items():
        out[RENAMES.get(name, name)] = value
    sessions = [s.end - s.start for s in tracer.spans if s.name == "session.get_spark"]
    out["session.get_spark_s"] = out["session.self_s"] = statistics.median(sessions)
    for k in {k for d in state.pass_counters for k in d}:
        out[k] = statistics.median(d.get(k, 0.0) for d in state.pass_counters)
    out.update(state.extra)
    out["trace.pass_p50_s"] = figures["pass_p50_s"]
    out["trace.op_geomean_s"] = figures["op_geomean_s"]
    out["trace.passes"] = len(state.passes)
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
