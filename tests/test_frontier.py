"""Frontier layer: canonicalization rules, Bloom segments, crawl determinism,
checkpoint-resume equality (north_rule acceptance behaviours at test scale)."""

import re

import pytest

from pyspark.sql import functions as F

from scrapy_processors_spark.frontier.canonicalize import canonicalize_url, canonicalize_url_py
from scrapy_processors_spark.frontier.crawler import CrawlConfig, run_crawl
from scrapy_processors_spark.frontier import bloom, graph
from tests.conftest import run_scalar

CANON_CASES = [
    ("HTTPS://Example.COM/path/#frag", "https://example.com/path"),
    ("http://example.com:80/a", "http://example.com/a"),
    ("https://example.com:443/a/", "https://example.com/a"),
    ("https://example.com", "https://example.com/"),
    ("  https://example.com/x  ", "https://example.com/x"),
    ("https://example.com/a//", "https://example.com/a"),
    ("https://example.com/a?q=1#f", "https://example.com/a?q=1"),
]


@pytest.mark.parametrize("inp,exp", CANON_CASES)
def test_canonicalize_spark(spark, inp, exp):
    assert run_scalar(spark, lambda c: canonicalize_url(c), [inp]) == [exp]


@pytest.mark.parametrize("inp,exp", CANON_CASES)
def test_canonicalize_py(inp, exp):
    assert canonicalize_url_py(inp) == exp


def _fetch_order(state):
    rows = state["fetch_log"].orderBy(
        "round", F.desc("priority"), "url_hash").collect()
    return [(r["round"], r["url"]) for r in rows]


def _seen_set(state):
    return {r["url"] for r in state["seen"].select("url").collect()}


CFG = dict(n_hosts=30, max_degree=3, max_rounds=3, n_buckets=4)


def test_crawl_deterministic_across_runs(spark):
    s1 = run_crawl(spark, CrawlConfig(**CFG))
    s2 = run_crawl(spark, CrawlConfig(**CFG))
    assert _fetch_order(s1) == _fetch_order(s2)
    assert _seen_set(s1) == _seen_set(s2)
    assert len(_fetch_order(s1)) > 0


def test_crawl_partitioning_invariance(spark):
    """Same result regardless of shuffle-partition count (stand-in for the
    N vs 4N executor equality; the bench covers local[8] vs local[32])."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        s1 = run_crawl(spark, CrawlConfig(**CFG))
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        s2 = run_crawl(spark, CrawlConfig(**CFG))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert _fetch_order(s1) == _fetch_order(s2)
    assert _seen_set(s1) == _seen_set(s2)


def test_crawl_bloom_path_equals_exact(spark):
    s1 = run_crawl(spark, CrawlConfig(**CFG, use_bloom=False))
    s2 = run_crawl(spark, CrawlConfig(**CFG, use_bloom=True, bloom_m_bits=1 << 16))
    assert _fetch_order(s1) == _fetch_order(s2)
    assert _seen_set(s1) == _seen_set(s2)


def test_crawl_shuffle_join_path_equals_broadcast(spark):
    """The 10^8-host scale posture flips broadcast_host_tables off and the
    host-state / robots joins become shuffle joins (crawler.py:86-90) —
    the crawl result must be byte-identical either way."""
    s1 = run_crawl(spark, CrawlConfig(**CFG))
    s2 = run_crawl(spark, CrawlConfig(**CFG, broadcast_host_tables=False))
    assert _fetch_order(s1) == _fetch_order(s2)
    assert _seen_set(s1) == _seen_set(s2)


def test_checkpoint_resume_equals_uninterrupted(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    # uninterrupted 4 rounds
    full = run_crawl(spark, CrawlConfig(**{**CFG, "max_rounds": 4}))
    # 2 rounds with checkpoint, then resume to 4
    cfg1 = CrawlConfig(**{**CFG, "max_rounds": 2}, checkpoint_root=root)
    run_crawl(spark, cfg1)
    cfg2 = CrawlConfig(**{**CFG, "max_rounds": 4}, checkpoint_root=root)
    resumed = run_crawl(spark, cfg2, resume=True)
    assert _fetch_order(full) == _fetch_order(resumed)
    assert _seen_set(full) == _seen_set(resumed)
    # r05 (ADVICE r04): resume must resolve the auto Bloom geometry from the
    # restored seen set, not fall back to the fixed 1<<20 floor
    if cfg2.use_bloom:
        assert cfg2.bloom_m_bits is not None


def test_page_html_kernel_null_url(spark):
    """A null url maps to a null body (ADVICE r04: must not abort the
    stage), matching the None-propagation convention of the Arrow kernels."""
    html = graph.page_html_kernel(8)
    rows = (spark.createDataFrame([("http://a/1",), (None,)], "url string")
            .select(html(F.col("url")).alias("h")).collect())
    assert rows[0]["h"] and rows[1]["h"] is None


def test_robots_respected(spark):
    state = run_crawl(spark, CrawlConfig(**CFG))
    robots = graph.robots_table(spark, 30)
    fetched = state["fetch_log"].join(robots, on="host")
    bad = fetched.where(
        F.exists("disallow_prefixes",
                 lambda p: F.regexp_extract("url", r"^[^:]+://[^/?#]*([^?#]*)", 1).startswith(p))
    ).count()
    assert bad == 0


def test_bloom_incremental_update_equals_rebuild(spark):
    """OR-ing a delta into existing segments yields byte-identical bitmaps to
    a from-scratch build over the union (insert order is irrelevant for OR),
    so round N+1 can safely reuse round N's segments."""
    a = spark.range(300).select(
        (F.col("id") % 4).cast("int").alias("bucket"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    b = spark.range(300, 500).select(
        (F.col("id") % 4).cast("int").alias("bucket"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    m = 1 << 14
    incr = bloom.update_segments(bloom.build_segments(a, m_bits=m), b, m_bits=m)
    full = bloom.build_segments(a.unionByName(b), m_bits=m)
    got = {r["bucket"]: bytes(r["bitmap"]) for r in incr.collect()}
    exp = {r["bucket"]: bytes(r["bitmap"]) for r in full.collect()}
    assert got == exp

    # a delta introducing a brand-new bucket creates its segment
    c = spark.range(500, 520).select(
        F.lit(7).cast("int").alias("bucket"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    incr2 = bloom.update_segments(incr, c, m_bits=m)
    tagged = bloom.filter_unseen(c, incr2)
    assert tagged.where(~F.col("maybe_seen")).count() == 0


def test_checkpoint_is_incremental_and_carries_lineage(spark, tmp_path):
    """seen/fetch_log checkpoints are deltas since the previous checkpoint
    (bytes ~ O(new URLs), not O(total seen)); the manifest's per-bucket
    lineage and fetched/new_urls metrics equal counts taken independently
    of the crawl's own bookkeeping; the persisted Bloom segments
    round-trip.  Checkpointing every round and every second round."""
    from scrapy_processors_spark.frontier.crawler import crawl_round, init_state

    rounds = 4
    # reference: the same crawl in memory, stepped round by round
    ref_cfg = CrawlConfig(**{**CFG, "max_rounds": rounds})
    ref = init_state(spark, graph.seed_urls(spark, 100, CFG["n_hosts"]), ref_cfg)
    seen_after = [ref["seen"].count()]
    robots = graph.robots_table(spark, CFG["n_hosts"])
    for _ in range(rounds):
        ref = crawl_round(spark, ref, robots, ref_cfg)
        seen_after.append(ref["seen"].count())
    new_by_round = {r: seen_after[r] - seen_after[r - 1] for r in range(1, rounds + 1)}
    for every in (1, 2):
        _check_lineage(spark, str(tmp_path / f"every{every}"), every, rounds,
                       seen_after, new_by_round)


def _check_lineage(spark, root, every, rounds, seen_after, new_by_round):
    import json
    import os

    from scrapy_processors_spark.frontier import checkpoint as ckpt

    cfg = CrawlConfig(**{**CFG, "max_rounds": rounds}, checkpoint_root=root,
                      checkpoint_every=every)
    state = run_crawl(spark, cfg)
    durable = [r for r in range(1, rounds + 1) if r % every == 0]
    fetched_by_round = {r["round"]: r["count"]
                        for r in state["fetch_log"].groupBy("round").count().collect()}

    # each checkpoint's seen delta covers only the URLs first seen since the
    # previous one (the seeds ride in the first); the deltas partition the
    # full seen set (disjoint + complete)
    total_seen = state["seen"].count()
    delta_counts, prev = {}, 0
    for rnd in durable:
        d = spark.read.parquet(os.path.join(root, "seen_log", f"ckpt={rnd:04d}"))
        delta_counts[rnd] = d.count()
        assert delta_counts[rnd] == (seen_after[0] if prev == 0 else 0) + sum(
            new_by_round[q] for q in range(prev + 1, rnd + 1))
        with open(os.path.join(root, f"round={rnd:04d}", "manifest.json")) as f:
            manifest = json.load(f)
        lin = manifest["lineage"]
        assert lin["seen_delta_rows"] == delta_counts[rnd]
        assert lin["seen_delta_rows_by_bucket"] == {
            str(r["bucket"]): r["count"] for r in d.groupBy("bucket").count().collect()}
        assert manifest["metrics"]["fetched"] == fetched_by_round.get(rnd, 0)
        assert manifest["metrics"]["new_urls"] == new_by_round[rnd]
        assert manifest["parent_round"] == (prev or None)
        prev = rnd
    assert [m["round"] for m in cfg.metrics] == durable
    assert sum(delta_counts.values()) == total_seen == seen_after[-1]
    assert max(delta_counts.values()) < total_seen  # genuinely incremental

    # bloom segments persisted + restored
    loaded = ckpt.read_checkpoint(spark, root, rounds)
    assert loaded["bloom"] is not None
    restored = {r["bucket"]: bytes(r["bitmap"]) for r in loaded["bloom"].collect()}
    live = {r["bucket"]: bytes(r["bitmap"]) for r in state["bloom"].collect()}
    assert restored == live


def test_warm_crawl_compiles_nothing_and_probes_once_per_round(spark, tmp_path):
    """Driver cost of a warm crawl: an identical second crawl finds every
    generated class in the codegen cache (0 janino compiles), and its
    executed plans hold one Bloom probe per round."""
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def crawl(name):
        run_crawl(spark, CrawlConfig(**{**CFG, "max_rounds": 2}, checkpoint_every=2,
                                     checkpoint_root=str(tmp_path / name)))
        bus.waitUntilEmpty()

    def executions():
        execs = store.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    crawl("warm-up")
    before = compiles.getCount()
    last = max(e.executionId() for e in executions())
    crawl("measured")
    assert compiles.getCount() - before == 0
    probes = 0
    for e in executions():
        if e.executionId() > last:
            tree, details = e.physicalPlanDescription().split("\n\n", 1)
            # cogroup nodes of the final plan (not AQE's initial plan) whose
            # detail block names the probe function
            for node in re.findall(r"FlatMapCoGroupsInPandas \((\d+)\)",
                                   tree.split("== Initial Plan ==", 1)[0]):
                block = ("\n" + details).split(f"\n({node}) FlatMapCoGroupsInPandas\n", 1)[1]
                probes += "probe(" in block.split("\n\n", 1)[0]
    assert probes == 2


def test_bloom_no_false_negatives(spark):
    df = spark.range(500).select(
        (F.col("id") % 4).cast("int").alias("bucket"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
    )
    segs = bloom.build_segments(df, m_bits=1 << 14)
    tagged = bloom.filter_unseen(df, segs)
    # every inserted hash must be flagged maybe_seen (no false negatives)
    assert tagged.where(~F.col("maybe_seen")).count() == 0


def test_outlinks_slice_array_matches_hof_and_stays_codegen(spark):
    """r04: outlinks moved from transform(sequence(1,deg), mk) — a
    CodegenFallback higher-order lambda whose interpreted eval path
    anti-scales under concurrency (BENCH.md §7) — to
    slice(array(mk(1)..mk(max_degree)), 1, deg).  Values must be identical
    and the plan must stay inside whole-stage codegen (the `*(N)` marker)."""
    urls = graph.seed_urls(spark, 500, 200)

    def old_outlinks(url, max_degree, n_hosts):
        deg_u = (F.pmod(F.xxhash64(url, F.lit("degree")),
                        F.lit(1_000_000)).cast("double")) / 1_000_000.0
        deg = (F.floor(deg_u * deg_u * max_degree) + 1).cast("int")

        def mk(i):
            h = F.xxhash64(url, i, F.lit("path"))
            host = graph.child_host(url, i, n_hosts)
            path = F.concat(F.lit("/p/"), F.abs(h).cast("string"))
            noise = F.pmod(F.xxhash64(url, i, F.lit("noise")), F.lit(10))
            base = F.concat(F.lit("https://"), host, path)
            return (F.when(noise == 0, F.concat(base, F.lit("/")))
                    .when(noise == 1, F.concat(base, F.lit("#frag")))
                    .when(noise == 2, F.concat(F.lit("HTTPS://"), F.upper(host), path))
                    .when(noise == 3, F.concat(F.lit("https://"), host, F.lit(":443"), path))
                    .otherwise(base))

        return F.transform(F.sequence(F.lit(1), deg), mk)

    cmp = urls.select(
        old_outlinks(F.col("url"), 8, 1000).alias("old"),
        graph.outlinks(F.col("url"), 8, 1000).alias("new"))
    assert cmp.where(F.col("old") != F.col("new")).count() == 0
    new_only = urls.select(graph.outlinks(F.col("url"), 8, 1000).alias("links"))
    plan = new_only._jdf.queryExecution().executedPlan().toString()
    assert plan.lstrip().startswith("*"), plan[:200]


def test_page_html_kernel_deterministic(spark):
    """r04: the bench's synthetic page generator must be a pure function of
    the url — lo/hi bench levels and repeated runs rely on identical page
    bodies — and word draws must span the vocab (shingle diversity for the
    minhash stage)."""
    from pyspark.sql import functions as F

    from scrapy_processors_spark.frontier import graph

    html = graph.page_html_kernel(words_per_page=50, vocab=100)
    urls = spark.range(40).select(
        F.concat(F.lit("https://h"), F.col("id").cast("string")).alias("url"))
    a = {r["url"]: r["html"] for r in
         urls.repartition(1).select("url", html(F.col("url")).alias("html")).collect()}
    b = {r["url"]: r["html"] for r in
         urls.repartition(7).select("url", html(F.col("url")).alias("html")).collect()}
    assert a == b  # partitioning-independent, deterministic per url
    body = a["https://h0"]
    assert body.startswith('  "<p>') and body.endswith(" !</p>  ")
    words = body.split("<p>")[1].split(" !")[0].split()
    assert len(words) == 50
    # different urls draw different word sequences; draws span the vocab
    assert a["https://h0"] != a["https://h1"]
    distinct = {w for b2 in a.values()
                for w in b2.split("<p>")[1].split(" !")[0].split()}
    assert len(distinct) > 60


def test_auto_m_bits_sizing():
    """r04: per-bucket Bloom sizing — power-of-two, [2^20, 2^24] clamp,
    ~10 bits per expected URL (the dry-run-validated lever, BENCH.md)."""
    from scrapy_processors_spark.frontier.bloom import auto_m_bits

    assert auto_m_bits(1000, 64) == 1 << 20          # floor
    assert auto_m_bits(10_000_000, 64) == 1 << 21    # 156k/bucket * 10 -> 2^21
    assert auto_m_bits(30_000_000, 64) == 1 << 23    # the 10^7 dryrun shape
    assert auto_m_bits(10**10, 64) == 1 << 24        # ceiling
    assert auto_m_bits(0, 64) == 1 << 20             # degenerate inputs
    assert auto_m_bits(1000, 0) == 1 << 20
    # result is always a power of two inside the clamp
    for n in (1, 10**5, 10**7, 10**9):
        m = auto_m_bits(n, 64)
        assert (1 << 20) <= m <= (1 << 24) and m & (m - 1) == 0
