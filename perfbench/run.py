#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload tracking_pipeline --seed 1 --seconds 4 --trace 0

Run from the repository root. It pins the environment (cores, memory, local
and temp dirs inside the checkout, worker PYTHONPATH), starts one Spark
session, builds the workload's inputs from ``--seed``, warms up, then runs
closed-loop passes for ``--seconds`` and checks every output after the timed
loop. The last line of stdout is one JSON object:

    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run alternates untraced and traced passes and reports the per-layer ones. See
perfbench/README.md for the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import (  # noqa: E402
    CORPUS_QUERIES, FUNCTIONS_OF_CALL, MODEL_CALLS, OPERATOR_STEPS, WORKLOADS)

#: files that must exist under the working directory (the repository root)
REPO_MARKERS = ("unravelsports_spark/__init__.py", "tests/oracle_compare.py")
WORK_DIR = ".perfbench_work"
SETUP_REPEATS = 3
PROFILER_CONF = "spark.sql.pyspark.udf.profiler"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "success_rate": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.jobs": "count", "session.stages": "count", "session.tasks": "count",
    "session.job_floor_s": "s",
    "datasets.load_kloppy_wide.s": "s", "datasets.load_kloppy_wide.jobs": "count",
    "datasets.load_kloppy_wide.exchanges": "count",
    **{f"operators.{f}.{k}": u for f in OPERATOR_STEPS for k, u in (("self_s", "s"), ("exchanges", "count"))},
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.peak_exec_mem_bytes": "bytes",
    "sources.write_tracking.s": "s", "sources.write_tracking.bytes": "bytes",
    "sources.write_tracking.files": "count", "sources.read_tracking.s": "s",
    **{f"models.{c}.{k}": u for c in MODEL_CALLS
       for k, u in (("s", "s"), ("jobs", "count"), ("tasks", "count"), ("udf_s", "s"), ("glue_s", "s"))},
    **{f"functions.{m}.cum_s": "s" for m in FUNCTIONS_OF_CALL.values()},
    **{f"plans.{q}.{k}": u for q in CORPUS_QUERIES for k, u in (("s", "s"), ("jobs", "count"))},
    "trace.untraced_wall_s": "s", "trace.traced_wall_s": "s", "trace.overhead_s": "s",
    "inputs.matches": "count", "inputs.frames": "count", "inputs.rows": "count",
    "inputs.bytes": "bytes", "measure.samples": "count", "error_rate": "ratio",
}


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


#: driver heap; the inputs are a few MB and the machine's RAM is shared. The
#: heap is committed and touched at start-up, so it stays resident whatever
#: the collector does, and peak_rss_mb leaves it out.
DRIVER_MEMORY_GB = 2
DRIVER_MEMORY = f"{DRIVER_MEMORY_GB}g"
DRIVER_HEAP_BYTES = DRIVER_MEMORY_GB << 30


def pin_env(root: str, work: str) -> None:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": tmp,
        # the Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            f"--driver-java-options '-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Dderby.system.home={work}' pyspark-shell"),
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, root)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child to exit."""
    from pyspark import SparkContext

    from probes import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # a later session in this process launches a fresh JVM
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for pid in descendants():
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def measure_untraced(w, seconds: float, outcomes: list) -> dict:
    from probes import RssSampler

    walls = []
    with RssSampler(DRIVER_HEAP_BYTES) as rss:
        deadline = time.perf_counter() + seconds
        while not walls or time.perf_counter() < deadline:
            t0 = time.perf_counter()
            outcomes += w.run_once()
            walls.append(time.perf_counter() - t0)
    wall = statistics.median(walls)
    return {"walls": walls, "wall_s": wall, "rows_per_s": w.inputs["rows"] / wall,
            "peak_rss_mb": rss.peak / (1 << 20), "java_heap_mb": rss.heap / (1 << 20)}


def traced_pass(w, spark, n: int) -> dict:
    """One pass with spans, job groups, SQL metrics and the UDF profiler on."""
    import probes

    w.layers = {}
    spark.conf.set(PROFILER_CONF, "perf")
    before = probes.sql_execution_count(spark)
    try:
        with w.tracer.span("pass", n=n), probes.job_group(spark, f"pass#{n}") as jobs:
            t0 = time.perf_counter()
            outcomes = w.run_once()
            wall = time.perf_counter() - t0
    finally:
        spark.conf.unset(PROFILER_CONF)
    m = {"wall": wall, **probes.sql_metrics(spark, before)}
    for k in ("jobs", "stages", "tasks"):
        m[f"session.{k}"] = jobs[k] + sum(rec[k] for rec in w.layers.values())
    for name, rec in w.layers.items():
        m[f"{name}.s"] = rec["s"]
        m[f"{name}.jobs"] = rec["jobs"]
        m[f"{name}.tasks"] = rec["tasks"]
        prof = rec.get("profile")
        if prof:
            m[f"{name}.udf_s"] = prof["udf_s"]
            m[f"{name}.glue_s"] = prof["udf_s"] - sum(prof["modules"].values())
            for mod, cum in prof["modules"].items():
                m[f"functions.{mod}.cum_s"] = m.get(f"functions.{mod}.cum_s", 0.0) + cum
    return m, outcomes


def measure_traced(w, spark, seconds: float, outcomes: list) -> dict:
    """Alternate untraced and traced passes (at least one pair) for
    ``seconds``; per-layer values are medians over the traced passes."""
    import probes

    metrics = {"session.job_floor_s": probes.job_floor(spark)}
    # one more untimed pass, so the first pair is not skewed by the JVM still
    # settling after warm-up
    outcomes += w.run_once()
    untraced, passes = [], []
    deadline = time.perf_counter() + seconds
    while not passes or time.perf_counter() < deadline:
        w.tracer.enabled = False
        t0 = time.perf_counter()
        outcomes += w.run_once()
        untraced.append(time.perf_counter() - t0)
        w.tracer.enabled = True
        m, outs = traced_pass(w, spark, len(passes))
        outcomes += outs
        passes.append(m)
    for key in passes[0]:
        metrics[key] = statistics.median(p.get(key, 0) for p in passes)
    metrics["trace.untraced_wall_s"] = statistics.median(untraced)
    metrics["trace.traced_wall_s"] = metrics.pop("wall")
    metrics["trace.overhead_s"] = metrics["trace.traced_wall_s"] - metrics["trace.untraced_wall_s"]
    metrics["measure.samples"] = len(untraced)
    with w.tracer.span("trace_layers"):
        w.trace_layers(metrics)
    return metrics


def run(args, root: str, work: str, sizes: dict | None = None, hook=None) -> dict:
    """One benchmark invocation; returns the result object. ``hook(w)``, when
    given, runs after warm-up (the self-test uses it to plant a bad
    expectation)."""
    from unravelsports_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        w = WORKLOADS[args.workload](spark, work, args.seed, sizes)
        gen_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            w.setup_inputs()
            gen_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        outcomes = list(w.warm_up())
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(gen_s) + warm_s
        if hook is not None:
            hook(w)

        if args.trace:
            layer = measure_traced(w, spark, args.seconds, outcomes)
        else:
            e2e = measure_untraced(w, args.seconds, outcomes)
        t0 = time.perf_counter()
        checks = w.check(outcomes) + w.final_checks()
        check_s = time.perf_counter() - t0
        attempted, failed = len(checks), len(checks) - sum(checks)

        detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "inputs": w.inputs, "session_s": session_s, "gen_s": gen_s,
                  "warm_s": warm_s, "check_s": check_s, "attempted": attempted, "failed": failed}
        if args.trace:
            values = {name: layer.get(name, 0) for name in PER_LAYER}
            values.update({f"inputs.{k}": w.inputs.get(k, 0) for k in ("matches", "frames", "rows", "bytes")})
            values["error_rate"] = failed / attempted
            units = PER_LAYER
            w.tracer.write(os.path.join(root, WORK_DIR, "traces",
                                        f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            values = {"setup_s": setup_s, "wall_s": e2e["wall_s"], "rows_per_s": e2e["rows_per_s"],
                      "success_rate": 1 - failed / attempted, "peak_rss_mb": e2e["peak_rss_mb"]}
            units = END_TO_END
            detail["walls"] = e2e["walls"]
            detail["java_heap_mb"] = e2e["java_heap_mb"]
            detail["error_rate"] = failed / attempted
        detail["metrics"] = values
        out = os.path.join(root, WORK_DIR, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump(detail, f, indent=1, default=str)
        for name, v in values.items():
            print(f"{name:<52} {v:>16.6g} {units[name]}", file=sys.stderr)
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    finally:
        stop_spark(spark)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=list(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    if os.environ.get("PYTHONHASHSEED") != "0":
        # fixed string hashing in this process, as Spark already sets for its
        # Python workers: set and dict order in plan building repeats run to run
        os.execve(sys.executable, [sys.executable, *sys.argv], {**os.environ, "PYTHONHASHSEED": "0"})
    args = parse_args(argv)
    root = os.getcwd()
    missing = [m for m in REPO_MARKERS if not os.path.isfile(os.path.join(root, m))]
    if missing:
        print(f"perfbench: run from the repository root; missing {', '.join(missing)}",
              file=sys.stderr)
        return 2
    work = os.path.join(root, WORK_DIR, f"{args.workload}-{os.getpid()}")
    pin_env(root, work)
    try:
        result = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
