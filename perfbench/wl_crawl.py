"""`crawl` workload: ``run_crawl`` from seeded seeds over the synthetic
Zipf-host web, Bloom filter on, ``checkpoint_every=2``, so every rep mixes
durable rounds (parquet write and read-back) with in-memory
localCheckpoint rounds.  One item = one URL in the final seen set.

Check per rep: the seen set (count plus an order-independent hash) and the
fetch log equal those of a ``use_bloom=False`` run made once in set-up.
"""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import functions as F

from scrapy_processors_spark.frontier import checkpoint, crawler, graph

from harness import SLOTS

SIZES = {"full": 2000, "toy": 100}
N_HOSTS = 1000
ROUNDS = 2
CHECKPOINT_EVERY = 2


def _config(**kw) -> crawler.CrawlConfig:
    return crawler.CrawlConfig(n_hosts=N_HOSTS, max_degree=8, max_rounds=ROUNDS,
                               n_buckets=8, **kw)


def digest(state: dict) -> dict:
    """Counts and order-independent hashes of the seen set and fetch log."""
    def agg(df, *cols):
        h = F.pmod(F.xxhash64(*cols), F.lit(2**31))
        r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
        return int(r["n"]), int(r["h"] or 0)

    seen_n, seen_h = agg(state["seen"], "url_hash", "url", "host", "bucket")
    log_n, log_h = agg(state["fetch_log"], "round", "url_hash", "url",
                       F.col("priority").cast("string"))
    return {"seen": seen_n, "seen_hash": seen_h,
            "fetched": log_n, "fetch_hash": log_h}


def _dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


class Workload:
    name = "crawl"
    slots = SLOTS
    SPANS = ("frontier.init_state_s", "frontier.round_mem_s", "frontier.round_ckpt_s",
             "frontier.checkpoint_write_s", "frontier.checkpoint_read_s")

    def __init__(self, spark, work_dir, seed, size, tracer):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.n_seeds = SIZES[size]
        self.seeds_path = os.path.join(work_dir, "seeds")
        self.ckpt_root = os.path.join(work_dir, "crawl-ckpt")
        self.counts = {}

    # ---- set-up
    def generate(self, final: bool) -> None:
        """Seeds are the library's deterministic seed list, offset by a
        seeded draw so each ``--seed`` crawls a different part of the web."""
        offset = int(np.random.default_rng(self.seed).integers(0, 2**40))
        seeds = graph.seed_urls(self.spark, self.n_seeds, N_HOSTS).select(
            F.regexp_replace("url", "/seed/", f"/seed/{offset}-").alias("url"),
            "priority_hint")
        seeds.write.mode("overwrite").parquet(self.seeds_path)

    def _seeds(self):
        return self.spark.read.parquet(self.seeds_path)

    def prepare(self) -> None:
        """Reference crawl: exact seen-set dedup only (no Bloom filter),
        in memory."""
        state = crawler.run_crawl(self.spark, _config(use_bloom=False),
                                  seeds=self._seeds())
        self.expected = digest(state)
        self.items = self.expected["seen"]

    # ---- reps
    def rep(self) -> None:
        self.cfg = _config(checkpoint_root=self.ckpt_root,
                           checkpoint_every=CHECKPOINT_EVERY)
        self.state = crawler.run_crawl(self.spark, self.cfg, seeds=self._seeds())

    def rep_dirs(self):
        return (self.ckpt_root,)

    def check(self, corrupt: bool) -> list:
        got = digest(self.state)
        want = dict(self.expected)
        if corrupt:
            want["seen_hash"] += 1
        self.counts = {
            "frontier.urls_fetched": (got["fetched"], "count"),
            "frontier.urls_new": (got["seen"] - self.n_seeds, "count"),
            "frontier.bloom_bit_load": (self._bloom_bit_load(), "ratio"),
            "frontier.checkpoint_mb": (_dir_mb(self.ckpt_root), "MB"),
        }
        return [f"{k}: crawl={got[k]} reference={want[k]}"
                for k in want if got[k] != want[k]]

    def _bloom_bit_load(self) -> float:
        """Mean share of set bits over the last checkpoint's Bloom segments."""
        last = checkpoint.latest_round(self.ckpt_root)
        if last is None:
            return 0.0
        rows = checkpoint.read_checkpoint(self.spark, self.ckpt_root, last)["bloom"] \
            .select("m_bits", "bitmap").collect()
        loads = [np.unpackbits(np.frombuffer(r["bitmap"], dtype=np.uint8)).sum()
                 / r["m_bits"] for r in rows]
        return float(np.mean(loads)) if loads else 0.0

    def traced_rep(self) -> None:
        """The same rep with the frontier module functions wrapped in spans
        (in this process only; restored afterwards)."""
        span = self.tracer.span
        orig = (crawler.init_state, crawler.crawl_round,
                checkpoint.write_checkpoint, checkpoint.read_checkpoint)

        def init_state(*a, **kw):
            with span("frontier.init_state_s"):
                return orig[0](*a, **kw)

        def crawl_round(spark, state, robots, cfg):
            durable = (state["round"] + 1) % cfg.checkpoint_every == 0
            with span("frontier.round_ckpt_s" if durable else "frontier.round_mem_s"):
                return orig[1](spark, state, robots, cfg)

        def write_checkpoint(*a, **kw):
            with span("frontier.checkpoint_write_s"):
                return orig[2](*a, **kw)

        def read_checkpoint(*a, **kw):
            with span("frontier.checkpoint_read_s"):
                return orig[3](*a, **kw)

        (crawler.init_state, crawler.crawl_round,
         checkpoint.write_checkpoint, checkpoint.read_checkpoint) = (
            init_state, crawl_round, write_checkpoint, read_checkpoint)
        try:
            self.rep()
        finally:
            (crawler.init_state, crawler.crawl_round,
             checkpoint.write_checkpoint, checkpoint.read_checkpoint) = orig

    def layer_counts(self) -> dict:
        return dict(self.counts)

    def info(self) -> dict:
        return {"seeds": self.n_seeds, "rounds": ROUNDS,
                "checkpoint_every": CHECKPOINT_EVERY, **self.expected}
