"""Iterative BFS crawl-frontier driver (the north-rule layer).

Round structure (all DataFrame ops; per-round checkpoint truncates lineage,
which is what makes unbounded-round iteration viable on Spark):

1. **fetch-batch selection** — politeness token budget per host + priority
   ranking.  Top-k-per-host is *two-phase salted*: a local rank within
   ``(host, salt)`` prunes to ≤k rows per salt before the global per-host
   rank, so a hot host (Zipf head) never concentrates its whole frontier
   into one task (explicit skew handling per BASELINE.json north_rule; AQE
   skew-join covers the residual).
2. **robots filter** — robots cache is a small table broadcast onto the
   batch; disallowed URLs leave the frontier permanently.
3. **expand** — outlinks from the deterministic page function (or a real
   pages table), canonicalized, hashed (xxhash64 — 64-bit identity space for
   the 10^10-URL target), bucketed by murmur3 of the host.
4. **URL-seen dedup** — one per-bucket Bloom probe (``bloom.filter_unseen``,
   on by default) tags each candidate ``maybe_seen``; one exact
   ``left_anti`` join against the seen table, matching only tagged rows,
   is the backstop.  Segments are maintained INCREMENTALLY: built once from
   the seeds, then OR-updated with each round's new hashes — never rebuilt
   from the full seen table.
5. **state update + checkpoint** — every ``checkpoint_every`` rounds,
   frontier/host_state/bloom are written as an Iceberg-style snapshot and
   seen/fetch_log as APPEND-ONLY deltas since the previous checkpoint
   (O(new URLs) I/O) with per-bucket lineage counts and the round's
   fetched/new counts in the manifest; the next round reads back from the
   snapshot (resume-exactly == in-memory run).  Other rounds truncate
   lineage with local checkpoints.

Determinism: every ordering is total — (priority DESC, url_hash ASC) — and
every value is a pure function of the data, never of task scheduling.  The
fetch log and final seen set are therefore identical across runs,
parallelism levels, and checkpoint resumes (tested).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from scrapy_processors_spark.frontier import bloom as bloom_mod
from scrapy_processors_spark.frontier import cuckoo as cuckoo_mod
from scrapy_processors_spark.frontier import checkpoint as ckpt
from scrapy_processors_spark.frontier import graph
from scrapy_processors_spark.frontier.canonicalize import canonicalize_url, url_host, url_path


@dataclass
class CrawlConfig:
    n_hosts: int = 1000
    max_degree: int = 8
    max_rounds: int = 5
    n_buckets: int = 64          # host-hash buckets for seen/bloom partitioning
    n_salts: int = 16            # salt fan-out for hot-host top-k
    # Probabilistic URL-seen fast path ON by default (production shape):
    # segments are built once from the seeds and maintained INCREMENTALLY
    # (only the round's new hashes are added), so per-round filter cost is
    # O(new URLs); the exact anti-join backstop runs only on the maybe-seen
    # residue.  ``filter_kind`` picks the structure (north_star names both):
    # "bloom"  — k-bit bitmap per bucket (bloom.py)
    # "cuckoo" — 4x16-bit-slot cuckoo table per bucket (cuckoo.py); same
    #            contract plus deletion support for recrawl/expiry
    use_bloom: bool = True
    filter_kind: str = "bloom"
    # None = auto-size from the seed count at init (bloom.auto_m_bits:
    # ~10 bits per expected URL per bucket, pow2-rounded, clamped to
    # [2^20, 2^24] — the 10^7 dry run measured 0.6 bit-load at a fixed
    # 2^20, i.e. the backstop anti-join was doing the filter's work).
    # init_state resolves and pins the value on the cfg so every later
    # round/update uses the same geometry.
    bloom_m_bits: Optional[int] = None
    cuckoo_m_buckets: int = 1 << 16
    checkpoint_root: Optional[str] = None
    checkpoint_every: int = 1
    # When set, each round appends its PRE-selection candidate set (the
    # robots-allowed frontier with materialized url_hash/priority and the
    # host token budget k) as parquet here — an independent engine can then
    # re-derive every round's fetch set with one window query, which is the
    # crawl_bfs correctness oracle (rank+budget at _rank_frontier is pure
    # SQL; hashing arrives materialized).  Off in production/bench paths.
    selection_snapshot_path: Optional[str] = None
    # Broadcast host_state/robots onto the frontier (no shuffle).  Valid while
    # the host table fits an executor (~10^6 hosts); at 10^8-host scale flip
    # off and these become bucketed shuffle joins.
    broadcast_host_tables: bool = True
    metrics: list = field(default_factory=list)


def _filter(cfg: CrawlConfig):
    """(module, size) of the configured URL-seen filter."""
    if cfg.filter_kind == "cuckoo":
        return cuckoo_mod, cfg.cuckoo_m_buckets
    # None only reaches here on the resume-without-bloom rebuild path
    # (init_state resolves it); existing segments carry their own geometry
    return bloom_mod, cfg.bloom_m_bits or (1 << 20)


def _with_identity(df: DataFrame, url_col: str, cfg: CrawlConfig) -> DataFrame:
    """canonical url -> (url, url_hash, host, bucket)."""
    canon = canonicalize_url(F.col(url_col))
    out = df.withColumn("url", canon)
    out = out.withColumn("url_hash", F.xxhash64("url"))
    out = out.withColumn("host", url_host(F.col("url")))
    # murmur3 host bucket (Spark `hash` IS murmur3-32 — north_star's hash)
    return out.withColumn("bucket", F.pmod(F.hash("host"), F.lit(cfg.n_buckets)).cast("int"))


def _priority(depth, host_seen) -> F.Column:
    """Deterministic priority: BFS depth decay + host-rarity boost."""
    return F.round(
        1.0 / (1.0 + depth) + 1.0 / F.log(2.0 + host_seen.cast("double")), 6
    )


def init_state(spark: SparkSession, seeds: DataFrame, cfg: CrawlConfig) -> dict:
    # materialized once: every later job reads the deduplicated seeds
    # instead of re-running the dedup shuffle, and the count comes free
    n_seeds = Observation()
    frontier = _with_identity(seeds, "url", cfg).select(
        "url", "url_hash", "host", "bucket",
        F.lit(0).alias("depth"),
        _priority(F.lit(0), F.lit(0)).alias("priority"),
    ).dropDuplicates(["url_hash"]) \
        .observe(n_seeds, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    seen = frontier.select("url_hash", "url", "host", "bucket")
    politeness = graph.politeness_table(spark, cfg.n_hosts)
    host_state = politeness.select(
        "host", F.col("burst").alias("tokens"), "tokens_per_round", "burst",
        F.lit(0).cast("long").alias("n_seen"),
    )
    fetch_log = spark.createDataFrame([], ckpt.FETCH_LOG_SCHEMA)
    bloom = None
    if cfg.use_bloom:
        if cfg.bloom_m_bits is None:
            # expected distinct URLs ~ seeds * (1 + out-degree): each BFS
            # wave discovers <= max_degree links per fetched page and dedup
            # collapses the rest; the 2^24 ceiling bounds deep crawls
            cfg.bloom_m_bits = bloom_mod.auto_m_bits(
                n_seeds.get["n"] * (1 + cfg.max_degree), cfg.n_buckets)
        mod, size = _filter(cfg)
        bloom = mod.build_segments(seen.select("bucket", "url_hash"), size) \
            .localCheckpoint(eager=True)
    return {"frontier": frontier, "seen": seen, "host_state": host_state,
            "fetch_log": fetch_log, "bloom": bloom,
            # deltas since the last durable checkpoint (the initial seen set
            # is the first delta, so the log union reconstructs from round 0)
            "seen_delta": seen, "fetch_log_delta": fetch_log, "round": 0}


def _rank_frontier(frontier: DataFrame, host_state: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Politeness-budgeted, priority-ranked, salt-staged ranking per host.

    Returns the frontier + ``k`` (host token budget) + ``rank``; callers split
    rows into the fetch batch (rank<=k) and the carryover (rank>k) with a
    filter — no anti-join needed.  The local (host,salt) pre-rank bounds any
    hot host's rows per task before the single-partition host rank.
    """
    hs = host_state.select("host", "tokens")
    if cfg.broadcast_host_tables:
        hs = F.broadcast(hs)
    cand = frontier.join(hs, on="host", how="left")
    cand = cand.withColumn("k", F.greatest(F.floor(F.coalesce("tokens", F.lit(1.0))), F.lit(0)))
    cand = cand.withColumn("salt", F.pmod(F.col("url_hash"), F.lit(cfg.n_salts)).cast("int"))
    w_local = Window.partitionBy("host", "salt").orderBy(F.desc("priority"), F.asc("url_hash"))
    pruned = cand.withColumn("r_local", F.row_number().over(w_local))
    w_host = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("url_hash"))
    ranked_head = (
        pruned.where(F.col("r_local") <= F.col("k"))
        .withColumn("rank", F.row_number().over(w_host))
    )
    # rows pruned locally can never be in the global top-k: give them an
    # impossible rank instead of shuffling them through the host window
    ranked_tail = pruned.where(F.col("r_local") > F.col("k")).withColumn(
        "rank", F.lit(None).cast("int"))
    return ranked_head.unionByName(ranked_tail).drop("salt", "r_local", "tokens")


def _robots_allowed(frontier: DataFrame, robots: DataFrame,
                    cfg: CrawlConfig) -> DataFrame:
    """Drop robots-disallowed URLs (join + filter).  The robots table is
    per-host, so it follows the same scale posture as host_state: broadcast
    (no shuffle) while hosts fit an executor, shuffle join at 10^8-host
    scale (``cfg.broadcast_host_tables``)."""
    rb = F.broadcast(robots) if cfg.broadcast_host_tables else robots
    joined = frontier.join(rb, on="host", how="left")
    path = url_path(F.col("url"))
    disallowed = F.exists(
        F.coalesce("disallow_prefixes", F.array().cast("array<string>")),
        lambda p: path.startswith(p),
    )
    return joined.where(~disallowed).drop("disallow_prefixes")


def crawl_round(spark: SparkSession, state: dict, robots: DataFrame,
                cfg: CrawlConfig) -> dict:
    rnd = state["round"] + 1
    t0 = time.time()
    frontier, seen, host_state = state["frontier"], state["seen"], state["host_state"]

    # 1. robots filter over the whole frontier (broadcast, zero shuffle),
    # 2. politeness-budgeted ranking; rank<=k fetches, the rest carries over
    #    (a filter split — replaces two anti-joins of the previous design).
    # Materialize ONCE: batch, carryover, fetched and the link expansion all
    # read `ranked`; in checkpoint rounds the durable writes of frontier/
    # seen_delta/fetch_delta would otherwise each re-execute the ranking
    # shuffles (measured 3-4x round cost).  The fetched count is observed
    # on that same job.
    n_fetched = Observation()
    ranked = _rank_frontier(_robots_allowed(frontier, robots, cfg), host_state, cfg) \
        .observe(n_fetched, F.count(F.when(F.col("rank") <= F.col("k"), 1)).alias("n")) \
        .localCheckpoint(eager=True)
    if cfg.selection_snapshot_path:
        # salt-pruned rows (rank null) are included: they can never be in
        # the host top-k, so the oracle's full re-rank puts them past k too
        ranked.select(
            F.lit(rnd).alias("round"), "url", "url_hash", "host",
            "priority", F.col("k").cast("long").alias("k"),
        ).write.mode("append").parquet(cfg.selection_snapshot_path)
    batch = ranked.where(F.col("rank") <= F.col("k"))
    carryover = ranked.where(F.col("rank").isNull() | (F.col("rank") > F.col("k"))) \
        .select("url", "url_hash", "host", "bucket", "depth", "priority")
    fetched = batch.select(
        F.lit(rnd).alias("round"), "url", "url_hash", "host", "priority"
    )

    # 3. expand outlinks (deterministic synthetic web)
    links = (
        batch.select("depth", F.explode(graph.outlinks(
            F.col("url"), cfg.max_degree, cfg.n_hosts)).alias("raw_url"))
    )
    links = _with_identity(links, "raw_url", cfg).select("url", "url_hash", "host",
                                                         "bucket", "depth")
    links = (
        links.groupBy("url_hash")
        .agg(F.min("url").alias("url"), F.min("host").alias("host"),
             F.min("bucket").alias("bucket"), (F.min("depth") + 1).alias("depth"))
    )

    # 4. URL-seen dedup: incremental bloom fast path + exact anti-join
    #    backstop.  Segments are CARRIED in the state (built once from the
    #    seeds, OR-updated with each round's new hashes below) — never
    #    rebuilt from the full seen table.  The probe runs once: seen joins
    #    on (url_hash, maybe_seen=true), so definitely-new rows never match
    #    and pass the one anti-join.  Trade-off: they still travel through
    #    its exchange, where splitting off the maybe-seen residue would keep
    #    them out at the price of a second probe.
    if cfg.use_bloom and state.get("bloom") is not None:
        new_urls = _filter(cfg)[0].filter_unseen(links, state["bloom"]).join(
            seen.select("url_hash", F.lit(True).alias("maybe_seen")),
            on=["url_hash", "maybe_seen"], how="left_anti",
        ).drop("maybe_seen")
    else:
        new_urls = links.join(seen.select("url_hash"), on="url_hash", how="left_anti")

    # host-rarity at discovery time
    host_counts = host_state.select("host", "n_seen")
    if cfg.broadcast_host_tables:
        host_counts = F.broadcast(host_counts)
    new_frontier_rows = (
        new_urls.join(host_counts, on="host", how="left")
        .select(
            "url", "url_hash", "host", "bucket", "depth",
            _priority(F.col("depth"), F.coalesce("n_seen", F.lit(0))).alias("priority"),
        )
    )
    # shared by frontier_next, seen_next, the host_state aggregates, the
    # bloom update, and (in checkpoint rounds) the delta writes + counts
    n_new = Observation()
    new_frontier_rows = new_frontier_rows \
        .observe(n_new, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)

    # 5. state update (carryover already excludes fetched + robots-blocked)
    frontier_next = carryover.unionByName(new_frontier_rows)
    seen_next = seen.unionByName(new_frontier_rows.select("url_hash", "url", "host", "bucket"))

    per_host_new = new_frontier_rows.groupBy("host").agg(F.count("*").alias("new_n"))
    per_host_fetch = fetched.groupBy("host").agg(F.count("*").alias("fetched_n"))
    host_state_next = (
        host_state
        .join(per_host_fetch, on="host", how="left")
        .join(per_host_new, on="host", how="left")
        .select(
            "host",
            F.least(
                F.col("burst"),
                F.col("tokens") - F.coalesce("fetched_n", F.lit(0)) + F.col("tokens_per_round"),
            ).alias("tokens"),
            "tokens_per_round", "burst",
            (F.col("n_seen") + F.coalesce("new_n", F.lit(0))).alias("n_seen"),
        )
    )
    fetch_log_next = state["fetch_log"].unionByName(fetched)
    new_seen_rows = new_frontier_rows.select("url_hash", "url", "host", "bucket")
    seen_delta_next = state["seen_delta"].unionByName(new_seen_rows)
    fetch_delta_next = state["fetch_log_delta"].unionByName(fetched)

    # incremental bloom maintenance: OR in only this round's new hashes
    # (O(new URLs)); segments are tiny (n_buckets bitmaps) and are
    # truncated with the other state below
    bloom_next = state.get("bloom")
    if cfg.use_bloom and bloom_next is not None:
        mod, size = _filter(cfg)
        bloom_next = mod.update_segments(bloom_next, new_seen_rows, size)

    new_state = {"frontier": frontier_next, "seen": seen_next,
                 "host_state": host_state_next, "fetch_log": fetch_log_next,
                 "bloom": bloom_next, "seen_delta": seen_delta_next,
                 "fetch_log_delta": fetch_delta_next, "round": rnd}

    # 6. checkpoint (also the lineage-truncation point): per-round DELTAS are
    # appended to the seen/fetch logs (O(new URLs) I/O), snapshots only for
    # the O(active)/O(hosts)/O(buckets) tables
    if cfg.checkpoint_root and rnd % cfg.checkpoint_every == 0:
        metrics = {"fetched": n_fetched.get["n"], "new_urls": n_new.get["n"],
                   "wall_s": round(time.time() - t0, 3)}
        cfg.metrics.append({"round": rnd, **metrics})
        ckpt.write_checkpoint(cfg.checkpoint_root, rnd, frontier_next,
                              host_state_next, seen_delta_next,
                              fetch_delta_next, metrics, bloom=bloom_next)
        loaded = ckpt.read_checkpoint(spark, cfg.checkpoint_root, rnd, cfg.filter_kind)
        new_state = _state_from_checkpoint(spark, loaded, rnd)
    else:
        # frontier/seen/fetch_log are now cheap filters/unions over the two
        # eagerly-checkpointed frames (ranked, new_frontier_rows); only
        # host_state and the filter segments carry a join chain worth
        # truncating each round (durable rounds read both back instead)
        for key in ("host_state", "bloom"):
            if new_state[key] is not None:
                new_state[key] = new_state[key].localCheckpoint(eager=True)
        if rnd % 10 == 0:
            # compact the growing union-of-checkpointed-legs plans
            for key in ("frontier", "seen", "fetch_log", "seen_delta",
                        "fetch_log_delta"):
                new_state[key] = new_state[key].localCheckpoint(eager=True)
    return new_state


def _state_from_checkpoint(spark: SparkSession, loaded: dict, rnd: int) -> dict:
    """State dict from checkpoint tables; deltas restart empty (everything up
    to this round is already durable in the logs)."""
    return {
        "frontier": loaded["frontier"], "seen": loaded["seen"],
        "host_state": loaded["host_state"], "fetch_log": loaded["fetch_log"],
        "bloom": loaded.get("bloom"),
        "seen_delta": spark.createDataFrame([], ckpt.SEEN_SCHEMA),
        "fetch_log_delta": spark.createDataFrame([], ckpt.FETCH_LOG_SCHEMA),
        "round": rnd,
    }


def run_crawl(spark: SparkSession, cfg: CrawlConfig,
              seeds: Optional[DataFrame] = None,
              robots: Optional[DataFrame] = None,
              resume: bool = False) -> dict:
    robots = robots if robots is not None else graph.robots_table(spark, cfg.n_hosts)
    last = ckpt.latest_round(cfg.checkpoint_root) if resume and cfg.checkpoint_root else None
    if last is None:
        state = init_state(spark, seeds if seeds is not None
                           else graph.seed_urls(spark, 100, cfg.n_hosts), cfg)
    else:
        loaded = ckpt.read_checkpoint(spark, cfg.checkpoint_root, last, cfg.filter_kind)
        state = _state_from_checkpoint(spark, loaded, last)
        if cfg.use_bloom and cfg.bloom_m_bits is None:
            # resume skips init_state: size the auto geometry from the
            # restored seen set, not the fixed 1<<20 floor (FPR, not results)
            cfg.bloom_m_bits = bloom_mod.auto_m_bits(
                state["seen"].count() * (1 + cfg.max_degree), cfg.n_buckets)
        if cfg.use_bloom and state["bloom"] is None:
            # older/filter-less checkpoint: one-time rebuild from seen
            mod, size = _filter(cfg)
            state["bloom"] = mod.build_segments(
                state["seen"].select("bucket", "url_hash"), size).localCheckpoint(eager=True)
    while state["round"] < cfg.max_rounds:
        state = crawl_round(spark, state, robots, cfg)
    return state
