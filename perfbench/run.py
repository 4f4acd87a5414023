#!/usr/bin/env python3
"""One-command benchmark for scrapy_processors_spark.

    python3 perfbench/run.py --workload fields|dedup|crawl|all \
        --seed N --seconds S --trace 0|1 [--size full|toy]

Run from the repository root.  One workload runs per process, on its own
pinned Spark session (``--workload all`` starts one child process per
workload).  A run:

1. burns a fixed single-thread calibration loop (host-era diagnostic);
2. starts the session and writes the seeded inputs, three times, keeping
   the median input time (``setup_s`` = session start + that median);
3. times the first full-size rep (``first_pass_s``);
4. runs warm reps until ``--seconds`` have passed (at least one);
5. checks every rep's output -- each check is one attempted operation, and
   a failed check is one failed operation;
6. prints the end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``) as the last stdout line, one JSON object.

A detail line (calibration, effective settings, per-rep numbers) is
printed just before it and, with spans, written under
``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("fields", "dedup", "crawl")
SETUP_REPEATS = 3
MIN_WARM_REPS = 1

END_TO_END_UNITS = {
    "setup_s": "s", "items_per_s": "1/s", "first_pass_s": "s",
    "cpu_s_per_kitem": "s", "peak_rss_mb": "MB", "shuffle_mb_per_kitem": "MB",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "toy"), default="full")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="self-test: make the first rep's expected value wrong")
    return p.parse_args(argv)


def _load_workload(name: str):
    return importlib.import_module(f"wl_{name}").Workload


def _metric(value, unit):
    return {"value": value, "unit": unit}


def run_one(args) -> dict:
    from harness import (ProcTree, SparkAccounting, Tracer, calibration_burn,
                         effective_settings, median, pin_session, process_age_s,
                         release_all, stop_session)

    t_start = time.perf_counter() - process_age_s()
    calib_start = calibration_burn()

    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # workers are forked by the JVM and import the library by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    procs = ProcTree()
    procs.start_sampling()
    spark = None
    try:
        tracer = Tracer(enabled=bool(args.trace))
        spark = pin_session(work)
        session_s = time.perf_counter() - t_start - calib_start
        acct = SparkAccounting(spark)
        wl = _load_workload(args.workload)(spark, work, args.seed, args.size, tracer)

        input_times = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.generate(final=(i == SETUP_REPEATS - 1))
            input_times.append(time.perf_counter() - t0)
        setup_s = session_s + median(input_times)
        t0 = time.perf_counter()
        wl.prepare()
        reference_s = time.perf_counter() - t0

        attempted = failed = 0
        problems: list = []

        def checked(rep_index: int) -> None:
            nonlocal attempted, failed
            attempted += 1
            try:
                issues = wl.check(corrupt=args.corrupt_expected and rep_index == 0)
            except Exception:  # a check that cannot run is a failed operation
                issues = [traceback.format_exc(limit=3)]
            if issues:
                failed += 1
                problems.append({"rep": rep_index, "issues": issues[:5]})

        # first full-size rep: first-execution cost kept apart
        t0 = time.perf_counter()
        wl.rep()
        first_pass_s = time.perf_counter() - t0
        checked(0)
        release_all(spark, wl.rep_dirs())

        warm = []          # untraced warm reps: wall, cpu, spark deltas
        traced_walls = []
        t_meas = time.perf_counter()
        rep_index = 1
        while (len(warm) < MIN_WARM_REPS
               or time.perf_counter() - t_meas < args.seconds):
            mark = acct.mark()
            cpu0 = procs.snapshot()
            t0 = time.perf_counter()
            wl.rep()
            wall = time.perf_counter() - t0
            cpu1 = procs.snapshot()
            spark_delta = acct.delta(mark, detail=bool(args.trace))
            warm.append({"wall_s": wall,
                         "cpu_s": cpu1["total"] - cpu0["total"],
                         "jvm_cpu_s": cpu1["jvm"] - cpu0["jvm"],
                         "python_cpu_s": cpu1["python"] - cpu0["python"],
                         "spark": spark_delta})
            checked(rep_index)
            release_all(spark, wl.rep_dirs())
            rep_index += 1
            if args.trace:
                # a traced rep follows every untraced one, so both sample
                # the same host era
                tracer.rep = rep_index
                t0 = time.perf_counter()
                wl.traced_rep()
                traced_walls.append(time.perf_counter() - t0)
                tracer.rep = None
                release_all(spark, wl.rep_dirs())

        items = wl.items
        wall_med = median([w["wall_s"] for w in warm])
        kitems = items / 1000.0
        end_to_end = {
            "setup_s": setup_s,
            "items_per_s": items / wall_med,
            "first_pass_s": first_pass_s,
            "cpu_s_per_kitem": sum(w["cpu_s"] for w in warm) / (kitems * len(warm)),
            "shuffle_mb_per_kitem":
                median([w["spark"]["shuffle_write_mb"] for w in warm]) / kitems,
        }
        calib_end = calibration_burn()
        procs.stop_sampling()
        end_to_end["peak_rss_mb"] = procs.peak_rss_mb

        detail = {
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "items": items, "warm_reps": len(warm),
            "warm_wall_s": [round(w["wall_s"], 4) for w in warm],
            "session_s": session_s, "input_s": input_times,
            "reference_s": reference_s,
            "calibration_s": {"start": calib_start, "end": calib_end},
            "settings": effective_settings(spark),
            "problems": problems,
            "workload_info": wl.info(),
        }
        if args.trace:
            metrics = per_layer_metrics(wl, warm, traced_walls, wall_med,
                                        tracer, session_s, input_times)
            detail["end_to_end_untraced_reps"] = end_to_end
            tracer.write(os.path.join(
                HERE, "results", f"trace-{args.workload}-seed{args.seed}.json"),
                {"detail": detail, "metrics": metrics})
        else:
            metrics = {k: _metric(v, END_TO_END_UNITS[k])
                       for k, v in end_to_end.items()}
        print(json.dumps({"detail": detail}, default=str))
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed, "metrics": metrics}
    finally:
        procs.stop_sampling()
        if spark is not None:
            stop_session(spark, procs)
        shutil.rmtree(work, ignore_errors=True)


# Every per-layer metric, printed by every traced run: a layer a workload
# does not exercise reports 0 (the issue's "predicted flat" pairs).
PER_LAYER = (
    ("session.get_spark_s", "s"), ("input.generate_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.busy_frac", "ratio"), ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.task_skew", "ratio"),
    ("proc.jvm_cpu_s", "s"), ("proc.python_cpu_s", "s"),
    ("plan.python_nodes", "count"), ("plan.exchanges", "count"),
    ("operators.strings_s", "s"), ("operators.numeric_s", "s"),
    ("operators.datetime_s", "s"), ("operators.contact_s", "s"),
    ("operators.reducers_s", "s"), ("fields.values_per_item", "count"),
    ("sources.read_pages_s", "s"), ("kernels.html_text_s", "s"),
    ("datapipe.signatures_s", "s"), ("datapipe.exact_dedup_s", "s"),
    ("datapipe.minhash_pairs_s", "s"), ("datapipe.verify_s", "s"),
    ("datapipe.vector_pairs_s", "s"), ("datapipe.ann_s", "s"),
    ("dedup.candidate_pairs", "count"), ("dedup.verify_yield", "ratio"),
    ("dedup.planted_recall", "ratio"),
    ("frontier.init_state_s", "s"), ("frontier.round_mem_s", "s"),
    ("frontier.round_ckpt_s", "s"), ("frontier.checkpoint_write_s", "s"),
    ("frontier.checkpoint_read_s", "s"), ("frontier.checkpoint_mb", "MB"),
    ("frontier.urls_fetched", "count"), ("frontier.urls_new", "count"),
    ("frontier.bloom_bit_load", "ratio"),
    ("trace.span_coverage", "ratio"), ("trace.overhead", "ratio"),
)


def per_layer_metrics(wl, warm, traced_walls, wall_med, tracer,
                      session_s, input_times) -> dict:
    """Spark and /proc counters are medians over the untraced warm reps;
    spans are medians over the traced reps."""
    from harness import median

    def spark_med(key):
        return median([w["spark"][key] for w in warm])

    values = {
        "session.get_spark_s": session_s,
        "input.generate_s": median(input_times),
        "spark.busy_frac": median([w["spark"]["executor_run_s"]
                                   / (w["wall_s"] * wl.slots) for w in warm]),
        "proc.jvm_cpu_s": median([w["jvm_cpu_s"] for w in warm]),
        "proc.python_cpu_s": median([w["python_cpu_s"] for w in warm]),
        "trace.span_coverage": median(tracer.top_level_totals()) / wall_med,
        "trace.overhead": median(traced_walls) / wall_med - 1.0,
    }
    for key in ("jobs", "stages", "tasks", "executor_cpu_s", "gc_s",
                "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "task_skew"):
        values[f"spark.{key}"] = spark_med(key)
    for key in ("python_nodes", "exchanges"):
        values[f"plan.{key}"] = spark_med(key)
    for name in wl.SPANS:
        values[name] = median(tracer.durations(name))
    for name, (value, _) in wl.layer_counts().items():
        values[name] = value
    return {name: _metric(values.get(name) or 0, unit) for name, unit in PER_LAYER}


def run_all(args) -> dict:
    """Each workload in a fresh process; the last line merges their
    results with metric names prefixed by the workload."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size]
        if args.corrupt_expected:
            cmd.append("--corrupt-expected")
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        merged["correct"] = merged["correct"] and res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    return merged


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path[:0] = [ROOT, HERE]
    # the benchmark measures the checkout it sits in, never an installed copy
    try:
        import scrapy_processors_spark as lib
    except ImportError as e:
        print(f"perfbench: no scrapy_processors_spark in {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(lib.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: scrapy_processors_spark is not the one in {ROOT}",
              file=sys.stderr)
        return 2
    result = run_all(args) if args.workload == "all" else run_one(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
