#!/usr/bin/env python3
"""Self-test of the benchmark at toy size (about five minutes).

    python3 perfbench/selftest.py [--workload fields|dedup|crawl]...

For every workload it checks that:

- an untraced run whose first expected value is deliberately wrong prints
  exactly the end-to-end metrics of ``BENCHMARK.json`` with their units and
  counts that one broken check as one failed operation;
- a traced run prints exactly the per-layer metrics with their units, has
  no failed operation, and writes a trace JSON holding every per-layer name
  and the workload's spans;

and that the command fails without printing a result in a directory that
holds only ``BENCHMARK.json`` and the benchmark's own files.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")


def _run(cwd: str, *args: str, script: str = RUN) -> tuple:
    proc = subprocess.run([sys.executable, script, *args], cwd=cwd,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines, proc.stderr


def _units(spec: list) -> dict:
    return {m["name"]: m["unit"] for m in spec}


def _check_result(lines: list, want_units: dict, errors: list, label: str) -> dict:
    if not lines:
        errors.append(f"{label}: no output")
        return {}
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{label}: result keys {sorted(res)}")
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want_units:
        missing = sorted(set(want_units) - set(got))
        extra = sorted(set(got) - set(want_units))
        wrong = sorted(k for k in got if k in want_units and got[k] != want_units[k])
        errors.append(f"{label}: metrics missing {missing} extra {extra} "
                      f"wrong unit {wrong}")
    for k, v in res["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            errors.append(f"{label}: {k} is not a number")
    return res


def check_workload(name: str, bench: dict, errors: list) -> None:
    e2e, layers = _units(bench["end_to_end"]), _units(bench["per_layer"])
    common = ["--workload", name, "--seed", "7", "--seconds", "1", "--size", "toy"]

    code, lines, err = _run(ROOT, *common, "--trace", "0", "--corrupt-expected")
    label = f"{name} trace=0 corrupt"
    if code != 0:
        errors.append(f"{label}: exit {code}: {err[-500:]}")
    else:
        res = _check_result(lines, e2e, errors, label)
        if res and (res["failed"] != 1 or res["correct"] or res["attempted"] < 2):
            errors.append(f"{label}: failed={res['failed']} correct={res['correct']} "
                          f"attempted={res['attempted']}, want one failed op")
        if res and any(v["value"] <= 0 for v in res["metrics"].values()):
            errors.append(f"{label}: a metric is not positive")

    code, lines, err = _run(ROOT, *common, "--trace", "1")
    label = f"{name} trace=1"
    if code != 0:
        errors.append(f"{label}: exit {code}: {err[-500:]}")
        return
    res = _check_result(lines, layers, errors, label)
    if res and (res["failed"] != 0 or not res["correct"]):
        errors.append(f"{label}: failed={res['failed']}")
    path = os.path.join(HERE, "results", f"trace-{name}-seed7.json")
    with open(path) as f:
        trace = json.load(f)
    if set(trace["metrics"]) != set(layers):
        errors.append(f"{label}: trace JSON misses {sorted(set(layers) - set(trace['metrics']))}")
    if not trace["spans"]:
        errors.append(f"{label}: trace JSON holds no spans")


def check_bare_directory(errors: list) -> None:
    bare = os.path.join(HERE, "work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("work", "results", "__pycache__"))
        code, lines, _ = _run(bare, "--workload", "fields", "--seed", "1",
                              "--seconds", "1", "--trace", "0",
                              script=os.path.join(bare, "perfbench", "run.py"))
        if code == 0 or any(line.startswith('{"correct"') for line in lines):
            errors.append(f"bare directory: exit {code}, output {lines[-1:]}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", action="append",
                   choices=("fields", "dedup", "crawl"))
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors: list = []
    check_bare_directory(errors)
    for name in args.workload or [w["name"] for w in bench["workloads"]]:
        check_workload(name, bench, errors)
        print(f"{name}: {'ok' if not errors else 'errors so far: ' + str(len(errors))}",
              flush=True)
    for e in errors:
        print("FAIL", e)
    print("selftest", "passed" if not errors else "failed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
