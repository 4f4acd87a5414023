#!/usr/bin/env python3
"""Extra benchmarks for optimization work (bench.py is frozen for
measurement; this file reproduces its query-timing methodology with
repeats and optional plan capture, per spark_optimization_guide §1).

Usage:
  python bench_extra.py [--sf DIR] [--reps N] [--plans OUTDIR] [--suffix S] [query ...]

Times each named query (default: every declared query) with the noop sink
on the same session shape bench.py uses (local[min(cpus,16)],
shuffle_partitions=cpus-capped), printing per-rep seconds, the first
(cold: codegen and JIT included) and the min.
With --plans, writes <query><suffix>.txt explain("formatted") files.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--plans", default=None)
    ap.add_argument("--suffix", default="")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from scrapy_processors_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cores = min(cpus, 16)
    spark = get_spark(master=f"local[{cores}]", app_name="bench-extra",
                      shuffle_partitions=cores)
    qs = entrymod.queries()
    names = args.queries or list(qs)
    out = {}
    for name in names:
        if name not in qs:
            print(f"warn: no query {name}", file=sys.stderr)
            continue
        df = qs[name](spark, args.sf)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            with open(os.path.join(args.plans, f"{name}{args.suffix}.txt"), "w") as f:
                f.write(plan_of(df))
        samples = []
        for r in range(args.reps):
            df = qs[name](spark, args.sf)
            spark.sparkContext.setJobDescription(f"{name} rep{r}")
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"min": min(samples), "first": samples[0],
                     "samples": samples}
        print(f"{name}: {samples} -> min {min(samples)}", flush=True)
    print(json.dumps({"sf": args.sf, "reps": args.reps,
                      "total_min": round(sum(v["min"] for v in out.values()), 3),
                      "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
