#!/usr/bin/env python3
"""Benchmark of the vector_ai_npm_spark package: one closed-loop client.

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 8 --trace 0

Run from the repository root.  One process, one client thread, Spark on
``local[<cores>]``.  The run generates its inputs from ``--seed`` under
``.perfbench_work/`` in the current directory, sets up the workload,
runs its operations back to back for ``--seconds``, checks every
operation's output, removes everything it wrote, and prints as its last
stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` Spark's event log is switched on through
PYSPARK_SUBMIT_ARGS and the metrics are the per-layer ones, attributed
to operations by Spark job group.  The line before it is a JSON run
summary (workload, seed, input sizes, per-kind counts and medians).
See perfbench/BENCHMARK.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

WORKLOAD_NAMES = ("rag_serve", "batch_mix")

# Layers timed around calls into the package (median per operation
# that made the call).
LAYER_TIMES = (
    "retrieval.probe_s", "retrieval.exact_topk_s", "retrieval.ivf_search_s",
    "rag.dedup_assemble_s", "rag.ingest_s",
)
# Event-log counters: counts are the median per operation, times and
# sizes the mean per operation.
SPARK_COUNTS = ("spark.jobs", "spark.stages", "spark.tasks")
SPARK_AMOUNTS = (
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "shuffle.read_mb", "shuffle.write_mb", "shuffle.spill_mb",
    "pyworker.run_s", "pyworker.boot_s", "pyworker.sent_mb", "pyworker.recv_mb",
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="input sizes; 'smoke' is the tiny smoke-test scale")
    ap.add_argument("--break-check", action="store_true",
                    help="make one output check expect a wrong value "
                         "(smoke test of the failure accounting)")
    return ap.parse_args(argv)


def launch_env(work: str, trace: bool) -> str | None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work``; with ``trace``, switch the event log on.  Returns the
    event-log directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    java = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = ["--driver-java-options", java]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return log_dir


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM that PySpark launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, spec: dict, work: str) -> tuple[dict, dict]:
    log_dir = launch_env(work, bool(args.trace))
    from harness import Recorder, median, mix_median, mix_throughput
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    from vector_ai_npm_spark.session import apply_runtime_confs, get_spark

    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    apply_runtime_confs(spark)
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        from vector_ai_npm_spark import registry

        registry.all_queries()
        registry_s = time.perf_counter() - t0

        rec = Recorder(spark, bool(args.trace))
        wl = WORKLOADS[args.workload](spark, rec, work, args.seed, args.size,
                                      args.break_check)
        wl.prepare()
        builds = []
        for r in range(wl.setup_repeats):
            t0 = time.perf_counter()
            wl.build(r)
            builds.append(time.perf_counter() - t0)
        wl.after_build()
        warm = Recorder(spark, False, prefix="pb-warm")
        wl.warm_up(warm)
        warm_s = sum(op.latency_s for op in warm.ops)
        setup_s = session_s + registry_s + median(builds) + warm_s

        t_start = time.perf_counter()
        i = 0
        while i % wl.round_ops or time.perf_counter() - t_start < args.seconds:
            wl.step(i)
            i += 1
        window_s = time.perf_counter() - t_start
        oracle = wl.oracle_check()
        layer_extra = wl.layer_metrics()
    finally:
        stop_spark(spark)

    ops = rec.ops
    kinds = sorted({op.kind for op in ops})
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "loop": "closed, 1 client", "inputs": wl.describe(),
        "window_s": window_s, "attempted": len(ops), "failed": rec.failed,
        "failed_op_ratio": rec.failed / len(ops),
        "warm_up_failed": warm.failed, "oracle_problems": oracle,
        "setup": {"session_s": session_s, "registry_s": registry_s,
                  "builds_s": builds, "warm_up_s": warm_s},
        "op_latencies_s": [[op.kind, op.latency_s] for op in ops],
        "kinds": {k: {"n": len(rec.by_kind(k)),
                      "p50_s": median(op.latency_s for op in rec.by_kind(k))}
                  for k in kinds},
    }
    correct = rec.failed == 0 and warm.failed == 0 and not oracle
    if not args.trace:
        values = {
            "setup_s": setup_s,
            "ops_per_s": mix_throughput(ops, wl.mix),
            "op_p50_s": mix_median(ops, wl.mix),
        }
        declared = spec["end_to_end"]
    else:
        per_op = attribute(ops, log_dir)
        summary["op_spark_jobs"] = [int(c["spark.jobs"]) for c in per_op]
        values = layer_metrics(ops, per_op, wl.mix, session_s, registry_s, builds,
                               warm_s, layer_extra)
        declared = spec["per_layer"]
    unknown = set(values) - {m["name"] for m in declared}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # a layer the workload does not exercise reads 0
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in declared}
    result = {"correct": correct, "attempted": len(ops), "failed": rec.failed,
              "metrics": metrics}
    return summary, result


def attribute(ops, log_dir) -> list[dict]:
    """Per-operation event-log counters, from the job groups of its calls."""
    import eventlog

    stats = eventlog.parse(eventlog.find_log(log_dir))
    per_op = []
    for op in ops:
        groups = [g for name, g in stats.items() if name.startswith(op.group(""))]
        c = {k: sum(g.counts.get(k, 0.0) for g in groups)
             for k in SPARK_COUNTS + SPARK_AMOUNTS}
        spans = [s for g in groups for s in g.spans]
        c["spark.driver_only_s"] = max(
            0.0, op.latency_s - eventlog.covered_ms(spans, op.windows_ms) / 1e3)
        c["registry.build_jobs"] = stats.get(
            op.group("registry.build_s"), eventlog.GroupStats()).counts.get("spark.jobs", 0.0)
        per_op.append(c)
    return per_op


def layer_metrics(ops, per_op, mix, session_s, registry_s, builds, warm_s,
                  extra) -> dict:
    from harness import median, mix_median

    n = len(ops)

    def layer(name):
        vals = [op.layers[name] for op in ops if name in op.layers]
        return median(vals)

    m = {
        "session.get_spark_s": session_s,
        "registry.all_queries_s": registry_s,
        "setup.build_s": median(builds),
        "setup.warm_up_s": warm_s,
        "trace.op_p50_s": mix_median(ops, mix),
        "spark.driver_only_s": median(c["spark.driver_only_s"] for c in per_op),
    }
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = median(op.catalyst_ms[phase] for op in ops)
    for k in SPARK_COUNTS:
        m[k] = median(c[k] for c in per_op)
    for k in SPARK_AMOUNTS:
        m[k] = sum(c[k] for c in per_op) / n
    for k in LAYER_TIMES:
        m[k] = layer(k)
    # per round of the mix (one pass over the faces on batch_mix)
    m["registry.build_jobs"] = (
        sum(c["registry.build_jobs"] for c in per_op) * sum(mix.values()) / n)
    m.update(extra)
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    pkg = os.path.join(ROOT, "vector_ai_npm_spark", "__init__.py")
    harness_py = os.path.join(ROOT, "tests", "oracle_harness.py")
    if not (os.path.isfile(pkg) and os.path.isfile(harness_py)):
        print("perfbench: run from the repository root: vector_ai_npm_spark/ "
              "and tests/oracle_harness.py were not found in " + ROOT,
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        summary, result = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run is using it
    print(json.dumps(summary), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
