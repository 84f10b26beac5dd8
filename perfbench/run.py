"""Benchmark of the churn warehouse engine.

    python3 perfbench/run.py --workload {bulk_load,incremental_day}
        --seed N --seconds S --trace {0,1}

Run from the repository root. One client drives ``local[nproc]`` in a
closed loop: each step starts when the previous one returns. The seed
makes the inputs; the engine receives only the generated files.

Stdout, in order: one ``box`` line (host sizing and control, and the
wall of every timed step), one ``workload`` line (every step metric of
the workload, by name and unit, and the reasons of failures), and last
the result object ``{correct, attempted, failed, metrics}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` installs the layer spans and Spark's
event log and reports the per-layer metrics instead, writing the spans
to ``perfbench/.traces/``.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("bulk_load", "incremental_day")
SETUP_ROUNDS = 3
DRIVER_MEM = "1g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}
# The workload line: the wall time of all timed steps and of every step
# (a repeated step by its median), and the failure rate.
STEP_UNITS = {
    "run_s": "s",
    "warehouse_run_s": "s",
    "inference_s": "s",
    "dq_corpus_s": "s",
    "noop_rerun_s": "s",
    "reprocess_s": "s",
    "op_failure_rate": "failed/attempted",
}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _vmhwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by the process tree under ``root``: each
    live process's user and system time plus that of its reaped
    children. Time the hypervisor gives to other guests (steal) is not
    charged to any of them."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        procs[int(d)] = (int(fields[1]), sum(map(int, fields[11:15])))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> list[int]:
    """The host's CPU counters from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _host_control_s() -> float:
    """A fixed pure-Python loop: moves only when the host does."""
    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return time.perf_counter() - t


class Ctx:
    """What a workload sees: the session, tracer, op counts, its work
    directory and seed, and ``step`` to time one step."""

    def __init__(self, spark, tracer, ops, work, seed):
        self.spark, self.tracer, self.ops = spark, tracer, ops
        self.work, self.seed = work, seed

    def step(self, out: dict, name: str, fn):
        """One timed step inside a top-level span; its seconds are
        appended to ``out["wall"][name]``."""
        with self.tracer.span(f"step.{name}") as rec:
            result = self.ops.run(name, fn)
        out.setdefault("wall", {}).setdefault(name, []).append(rec["end"] - rec["start"])
        return result


def _start_session(conf: dict):
    from teleco_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm() -> None:
    """Stop Spark, then end the JVM the session launched and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _measure(args, work: str, box: dict):
    """Set up, run the workload once, and return (ops, step metrics,
    result metrics, their units)."""
    import spans
    from workloads import WORKLOADS, Ops

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if args.trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })

    # Set-up: a session, several times (the first round also launches
    # the JVM, the others restart the session in it); then, once, the
    # workload's own set-up. Each part is timed in wall and CPU seconds.
    pid = os.getpid()
    rounds, rounds_cpu = [], []
    for k in range(SETUP_ROUNDS):
        t, c = time.perf_counter(), _tree_cpu_s(pid)
        spark = _start_session(conf)
        rounds.append(time.perf_counter() - t)
        rounds_cpu.append(_tree_cpu_s(pid) - c)
        if k < SETUP_ROUNDS - 1:
            spark.stop()
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    ops = Ops()
    tracer = spans.Tracer(spark if args.trace else None)
    if args.trace:
        spans.install(tracer)
    ctx = Ctx(spark, tracer, ops, work, args.seed)
    workload = WORKLOADS[args.workload](ctx)
    t, c = time.perf_counter(), _tree_cpu_s(pid)
    with tracer.span("setup"):
        workload.setup()
    once_s, once_cpu = time.perf_counter() - t, _tree_cpu_s(pid) - c
    box["setup_rounds_s"] = rounds
    box["setup_once_s"] = once_s
    box["setup_rounds_cpu_s"] = rounds_cpu
    box["setup_once_cpu_s"] = once_cpu

    # One run of the workload's timed steps; --seconds is accepted for
    # the command line's sake, a run always times the whole workload.
    cpu0, host0 = _tree_cpu_s(pid), _cpu_ticks()
    t0 = time.perf_counter()
    out = workload.run()
    loop_s = time.perf_counter() - t0
    cpu_s = _tree_cpu_s(pid) - cpu0
    host = [b - a for a, b in zip(host0, _cpu_ticks())]
    box["step_walls_s"] = out["wall"]
    box["loop_s"] = loop_s
    box["loop_cpu_s"] = cpu_s
    box["loop_steal_share"] = host[7] / sum(host) if sum(host) else 0.0
    peak_rss = _vmhwm_mb(jvm_pid) + _vmhwm_mb("self")

    run_s = sum(map(sum, out["wall"].values()))
    steps = {"run_s": run_s}
    steps.update({f"{name}_s": statistics.median(w) for name, w in out["wall"].items()})
    steps["op_failure_rate"] = ops.failed / ops.attempted if ops.attempted else 1.0
    if not args.trace:
        metrics = {
            "setup_s": rounds_cpu[0] + statistics.median(rounds_cpu[1:]) + once_cpu,
            "cpu_s": cpu_s,
            "stored_bytes_per_input_byte": out["stored_bytes_per_input_byte"],
            "peak_rss_mb": peak_rss,
        }
        return ops, steps, metrics, END_TO_END_UNITS

    import layers

    spark.sparkContext.setJobDescription(None)
    spark.stop()  # flushes the event log
    box["host_control_s_mid"] = _host_control_s()
    layer_metrics = layers.per_layer(
        tracer, os.path.join(work, "eventlog"), out, run_s, cpu_s, loop_s, box
    )
    out_dir = os.path.join(HERE, ".traces")
    os.makedirs(out_dir, exist_ok=True)
    tracer.write(os.path.join(out_dir, f"spans_{args.workload}_{args.seed}.json"))
    return ops, steps, layer_metrics, layers.UNITS


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    # The session module reads the environment at import time.
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, ROOT)
    try:
        import pyspark
        import teleco_etl_pipeline_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "spark-local"))

    box = {
        "nproc": _cpus(),
        "mem_total_mb": round(
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**20
        ),
        "driver_mem": DRIVER_MEM,
        "spark_version": pyspark.__version__,
        "python": sys.version.split()[0],
        "loadavg_before": os.getloadavg(),
        "host_control_s_before": _host_control_s(),
    }
    try:
        ops, steps, metrics, units = _measure(args, work, box)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    box["loadavg_after"] = os.getloadavg()
    box["host_control_s_after"] = _host_control_s()

    print(json.dumps({"box": box}))
    print(json.dumps({
        "workload": args.workload,
        "metrics": {k: {"value": v, "unit": STEP_UNITS[k]} for k, v in steps.items()},
        "failures": ops.failures[:20],
    }))
    print(json.dumps({
        "correct": ops.failed == 0 and ops.attempted > 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
