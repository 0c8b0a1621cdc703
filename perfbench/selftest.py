#!/usr/bin/env python3
"""Toy-size self-test of the benchmark.

    python3 perfbench/selftest.py

Run from the repository root. It checks that

- every workload, plain and traced, prints exactly the metric names of
  BENCHMARK.json with their units, with every output check passing;
- a deliberately wrong expected fingerprint, and a deliberately wrong
  generator truth, are each counted as failed operations (``correct`` false,
  ``success_rate`` below 1) rather than crashing the run;
- the entry point exits non-zero without a result line when started in a
  directory that does not hold the repository.

Exits 0 when all hold; the first failing check raises.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
from types import SimpleNamespace

import run

TOY = {
    "tracking_pipeline": {"matches": 1, "frames": 40},
    "corpus_graph": {"docs": 80, "vecs": 40},
}


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")


def declared(root: str) -> tuple[dict, dict]:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    expect([w["name"] for w in bench["workloads"]] == list(run.WORKLOADS),
           "BENCHMARK.json workloads match the program")
    expect(e2e == run.END_TO_END, "BENCHMARK.json end_to_end matches the program")
    expect(layer == run.PER_LAYER, "BENCHMARK.json per_layer matches the program")
    return e2e, layer


def toy_run(root: str, work: str, workload: str, trace: int, hook=None) -> dict:
    args = SimpleNamespace(workload=workload, seed=7, seconds=0.1, trace=trace)
    result = run.run(args, root, work, sizes=TOY[workload], hook=hook)
    json.dumps(result)  # the result line must serialize
    expect(set(result) == {"correct", "attempted", "failed", "metrics"},
           f"{workload}/trace{trace}: result keys")
    expect(result["attempted"] >= 1, f"{workload}/trace{trace}: attempted >= 1")
    return result


def main() -> int:
    root = os.getcwd()
    e2e, layer = declared(root)
    work = os.path.join(root, run.WORK_DIR, f"selftest-{os.getpid()}")
    run.pin_env(root, work)
    try:
        check_all(root, work, e2e, layer)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


def check_all(root: str, work: str, e2e: dict, layer: dict) -> None:
    for workload in run.WORKLOADS:
        for trace, names in ((0, e2e), (1, layer)):
            result = toy_run(root, work, workload, trace)
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            expect(got == names, f"{workload}/trace{trace}: metric names and units")
            expect(all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()),
                   f"{workload}/trace{trace}: numeric values")
            expect(result["correct"] and result["failed"] == 0,
                   f"{workload}/trace{trace}: outputs check out ({result})")
            print(f"ok {workload} trace={trace}", flush=True)

    def plant_wrong_fingerprint(w):
        w.expected = {k: (n, h + 1) for k, (n, h) in w.expected.items()}

    result = toy_run(root, work, "tracking_pipeline", 0, hook=plant_wrong_fingerprint)
    expect(not result["correct"] and result["failed"] >= 1,
           f"a wrong expected fingerprint counts as a failure ({result})")
    expect(result["metrics"]["success_rate"]["value"] < 1, "success_rate drops below 1")
    print("ok wrong fingerprint counted", flush=True)

    def plant_wrong_truth(w):
        w.truth().loc[0, "x"] += 1.0

    result = toy_run(root, work, "tracking_pipeline", 0, hook=plant_wrong_truth)
    expect(not result["correct"] and result["failed"] >= 1,
           f"an ingest output unlike the generator's counts as a failure ({result})")
    print("ok wrong truth counted", flush=True)

    with tempfile.TemporaryDirectory(dir=work) as empty:
        proc = subprocess.run(
            [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", "corpus_graph",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=empty, capture_output=True, text=True, timeout=180)
    expect(proc.returncode != 0 and not proc.stdout.strip(),
           "outside the repository the entry point fails without a result")
    print("ok fails outside the repository", flush=True)


if __name__ == "__main__":
    sys.exit(main())
