"""Iceberg-style checkpointing for the crawl frontier.

No Iceberg jars are installed locally (SURVEY.md §2.5), so the checkpoint is
an Iceberg-style *layout* we maintain ourselves — snapshot + append-only
delta logs + a JSON manifest (snapshot metadata, per-table row counts,
per-bucket lineage for the seen delta, lineage pointer to the parent round,
per-round metrics).  Swapping in real Iceberg is a config change: every
write goes through ``write_table``.

Layout::

    <root>/round=000N/frontier/      parquet snapshot (O(active frontier))
                     /host_state/    parquet snapshot (O(hosts))
                     /bloom/         parquet snapshot of Bloom segments
                                     (north_rule: "Bloom segments ...
                                     checkpoint"; O(n_buckets) bitmaps)
                     /manifest.json
    <root>/seen_log/ckpt=000N/       parquet APPEND — only the URLs first
                                     seen since the previous checkpoint,
                                     partitioned by host-bucket
    <root>/fetch_log/ckpt=000N/      parquet APPEND — fetches since the
                                     previous checkpoint

The cumulative ``seen`` / ``fetch_log`` tables are reconstructed on read as
the union of delta dirs with ckpt index <= the resumed round, so checkpoint
I/O per round is O(new URLs), not O(total seen) — at the 10^10-URL target a
full-seen rewrite per round would dominate the crawl (VERDICT r01 §
"what's wrong" #3/"missing" #3).

Resume = read the highest round with a complete manifest (north_rule:
"resumable from checkpoint with per-partition lineage + metrics").  The
manifest is written last via atomic rename, so a crash mid-write leaves a
dangling delta dir that the <=round filter ignores and a later retry of the
same round overwrites.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from scrapy_processors_spark.frontier.bloom import BLOOM_SCHEMA
from scrapy_processors_spark.frontier.cuckoo import CUCKOO_SCHEMA
from scrapy_processors_spark.session import parquet_footers

DELTA_TABLES = ("seen", "fetch_log")

# tables are read back with declared schemas: inferring one costs a job per read
SNAPSHOT_SCHEMAS = {
    "frontier": "url string, url_hash long, host string, bucket int, depth int, priority double",
    "host_state": "host string, tokens double, tokens_per_round double, burst double, n_seen long",
}
FILTER_SCHEMAS = {"bloom": BLOOM_SCHEMA, "cuckoo": CUCKOO_SCHEMA}
SEEN_SCHEMA = "url_hash long, url string, host string, bucket int"
FETCH_LOG_SCHEMA = "round int, url string, url_hash long, host string, priority double"


def _round_dir(root: str, rnd: int) -> str:
    return os.path.join(root, f"round={rnd:04d}")


def _delta_dir(root: str, table: str, rnd: int) -> str:
    return os.path.join(root, f"{table}_log", f"ckpt={rnd:04d}")


def write_table(df: DataFrame, path: str, partition_by: Optional[list] = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_checkpoint(root: str, rnd: int, frontier: DataFrame,
                     host_state: DataFrame, seen_delta: DataFrame,
                     fetch_log_delta: DataFrame, metrics: dict,
                     bloom: Optional[DataFrame] = None) -> dict:
    d = _round_dir(root, rnd)
    write_table(frontier, os.path.join(d, "frontier"))
    write_table(host_state, os.path.join(d, "host_state"))
    if bloom is not None:
        write_table(bloom, os.path.join(d, "bloom"))
    seen_dir = _delta_dir(root, "seen", rnd)
    write_table(seen_delta, seen_dir, partition_by=["bucket"])
    write_table(fetch_log_delta, _delta_dir(root, "fetch_log", rnd))
    # per-bucket lineage of the seen delta from the written files' footers
    # (driver-side, no job): the counts audit what actually landed on disk
    seen_by_bucket = Counter()
    for path, footer in parquet_footers(seen_dir):
        bucket = os.path.basename(os.path.dirname(path)).split("=", 1)[1]
        seen_by_bucket[bucket] += footer.num_rows
    manifest = {
        "round": rnd,
        "parent_round": _parent_round(root, rnd),
        "snapshots": {t: os.path.join(d, t) for t in SNAPSHOT_SCHEMAS},
        "bloom": os.path.join(d, "bloom") if bloom is not None else None,
        "deltas": {t: _delta_dir(root, t, rnd) for t in DELTA_TABLES},
        "lineage": {
            "seen_delta_rows_by_bucket": seen_by_bucket,
            "seen_delta_rows": sum(seen_by_bucket.values()),
        },
        "metrics": metrics,
    }
    # manifest written last = commit point (atomic-rename semantics analog)
    tmp = os.path.join(d, "manifest.json.tmp")
    os.makedirs(d, exist_ok=True)
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2)
    os.replace(tmp, os.path.join(d, "manifest.json"))
    return manifest


def _parent_round(root: str, rnd: int) -> Optional[int]:
    prior = [r for r in _committed_rounds(root) if r < rnd]
    return max(prior) if prior else None


def _committed_rounds(root: str) -> list:
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        if name.startswith("round=") and os.path.exists(
            os.path.join(root, name, "manifest.json")
        ):
            out.append(int(name.split("=")[1]))
    return sorted(out)


def latest_round(root: str) -> Optional[int]:
    rounds = _committed_rounds(root)
    return max(rounds) if rounds else None


def _read_delta_union(spark: SparkSession, root: str, table: str, rnd: int,
                      schema: str) -> DataFrame:
    """Union of all committed delta dirs with ckpt index <= rnd."""
    log_root = os.path.join(root, f"{table}_log")
    dirs = []
    if os.path.isdir(log_root):
        for name in sorted(os.listdir(log_root)):
            if name.startswith("ckpt=") and int(name.split("=")[1]) <= rnd:
                dirs.append(os.path.join(log_root, name))
    if not dirs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).option("basePath", log_root).parquet(*dirs) \
        .drop("ckpt").select(*[f.split(" ")[0] for f in schema.split(", ")])


def read_checkpoint(spark: SparkSession, root: str, rnd: int,
                    filter_kind: str = "bloom") -> dict:
    d = _round_dir(root, rnd)
    with open(os.path.join(d, "manifest.json")) as f:
        manifest = json.load(f)
    out = {t: spark.read.schema(schema).parquet(os.path.join(d, t))
           for t, schema in SNAPSHOT_SCHEMAS.items()}
    out["seen"] = _read_delta_union(spark, root, "seen", rnd, SEEN_SCHEMA)
    out["fetch_log"] = _read_delta_union(spark, root, "fetch_log", rnd,
                                         FETCH_LOG_SCHEMA)
    bloom_path = os.path.join(d, "bloom")
    out["bloom"] = (spark.read.schema(FILTER_SCHEMAS[filter_kind]).parquet(bloom_path)
                    if os.path.isdir(bloom_path) else None)
    out["manifest"] = manifest
    return out
