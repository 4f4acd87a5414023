"""Driver-facing queries + DuckDB oracles for the frontier layer.

URL inputs are crafted deterministically from the documents table (no
external data); the canonicalization oracle reuses the exact regex rules of
``canonicalize.CANONICALIZE_SQL`` so both engines run the same spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scrapy_processors_spark.frontier.canonicalize import (
    CANONICALIZE_SQL,
    canonicalize_url,
    url_host,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from scrapy_processors_spark.session import read_table

    # Scale-adaptive keyed scan fan-out — see session.read_table.
    return read_table(spark, sf_dir, name)


def _raw_url(docs: DataFrame) -> F.Column:
    """Messy deterministic URL: mixed-case scheme/host, default port,
    fragment, trailing slash — all canonicalization rules exercised."""
    return F.concat(
        F.lit("HTTPS://Host"), (F.col("doc_id") % 50).cast("string"),
        F.lit(".Example.com:443/Path/"), F.col("source"),
        F.lit("/"), F.lit("#frag"),
    )


_RAW_URL_SQL = ("'HTTPS://Host' || CAST(doc_id % 50 AS VARCHAR) || "
                "'.Example.com:443/Path/' || source || '/' || '#frag'")


def q_url_canonicalize(spark, sf_dir):
    from scrapy_processors_spark import UrlCanonicalize

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", UrlCanonicalize()(_raw_url(docs)).alias("canon_url")
    )


def q_url_seen_antijoin(spark, sf_dir):
    """URL-seen dedup shape: candidates anti-joined against a seen set (the
    exact backstop of the Bloom fast path)."""
    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("https://host"), (F.col("doc_id") % 97).cast("string"),
                 F.lit(".example.com/p/"), (F.col("doc_id") % 1000).cast("string"),
                 ).alias("url"),
    )
    seen = urls.where(F.col("doc_id") % 3 == 0).select(F.xxhash64("url").alias("url_hash"))
    cand = urls.withColumn("url_hash", F.xxhash64("url"))
    return (
        cand.join(seen, on="url_hash", how="left_anti")
        .select("doc_id", "url")
    )


def q_url_seen_cuckoo(spark, sf_dir):
    """Cuckoo fast path + exact backstop over the same candidate/seen split
    as ``url_seen_antijoin``: the combined result must equal the plain
    anti-join exactly (false positives only route rows through the backstop,
    never change the answer) — so the anti-join SQL is a hard oracle for the
    cuckoo probe."""
    from scrapy_processors_spark.frontier import cuckoo

    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("https://host"), (F.col("doc_id") % 97).cast("string"),
                 F.lit(".example.com/p/"), (F.col("doc_id") % 1000).cast("string"),
                 ).alias("url"),
    ).withColumn("url_hash", F.xxhash64("url")) \
     .withColumn("bucket", F.pmod(F.hash(url_host(F.col("url"))), F.lit(8)).cast("int"))
    seen = urls.where(F.col("doc_id") % 3 == 0)
    segs = cuckoo.build_segments(seen.select("bucket", "url_hash"), m_buckets=1 << 10)
    tagged = cuckoo.filter_unseen(urls, segs)
    definitely_new = tagged.where(~F.col("maybe_seen"))
    residue = tagged.where(F.col("maybe_seen")).join(
        seen.select("url_hash"), on="url_hash", how="left_anti")
    return definitely_new.unionByName(residue).select("doc_id", "url")


def q_frontier_priority(spark, sf_dir):
    """Fetch-batch selection shape: priority ranking + top-k per host window."""
    docs = _t(spark, sf_dir, "documents")
    fr = docs.select(
        "doc_id",
        F.concat(F.lit("host"), (F.col("doc_id") % 20).cast("string")).alias("host"),
        (F.col("doc_id") % 7).alias("depth"),
    ).withColumn(
        "priority", F.round(1.0 / (1.0 + F.col("depth")), 6)
    )
    w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("doc_id"))
    return (
        fr.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("host", "doc_id", "priority", "rank")
    )


def q_url_latest_snapshot(spark, sf_dir):
    """Recrawl dedup over the input_hint shape (url, warc_ts): keep the
    newest snapshot per url (standard step before extraction when the same
    url is fetched in multiple WARC epochs).  Window rank per url; total
    order (warc_ts DESC, doc_id DESC) so the pick is deterministic."""
    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("https://host"), (F.col("doc_id") % 40).cast("string"),
                 F.lit(".example.com/p/"), (F.col("doc_id") % 200).cast("string")
                 ).alias("url"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("warc_ts"),
    )
    w = Window.partitionBy("url").orderBy(F.desc("warc_ts"), F.desc("doc_id"))
    return (
        pages.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
        .select("url", "doc_id",
                F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("ts"))
    )


def q_robots_parse(spark, sf_dir):
    """Raw robots.txt -> (*-agent) disallow prefixes, relationally (windows
    over posexploded lines; frontier/robots.py).  Bodies are synthesized
    deterministically per doc, covering: plain star group, star group after
    a non-star group (+ comment + empty-Disallow lines), consecutive-UA
    group (googlebot and * share rules), and a no-star file (absent from
    the output).  Prefixes joined with '|' for hashing."""
    from scrapy_processors_spark.frontier.robots import parse_robots

    docs = _t(spark, sf_dir, "documents")
    c = F.col("doc_id") % 4
    did = F.col("doc_id").cast("string")
    body = (
        F.when(c == 0, F.concat(
            F.lit("User-agent: *\nDisallow: /a"), did,
            F.lit("\nDisallow: /b  # trailing comment\n")))
        .when(c == 1, F.concat(
            F.lit("User-agent: googlebot\nDisallow: /g\n\nUser-agent: *\nDisallow: /c"),
            did, F.lit("\nDisallow:\n")))
        .when(c == 2, F.concat(
            F.lit("User-agent: googlebot\nUser-agent: *\nDisallow: /d"),
            did, F.lit("\n")))
        .otherwise(F.lit("User-agent: googlebot\nDisallow: /nope\n"))
    )
    raw = docs.select(
        F.concat(F.lit("h"), F.col("doc_id").cast("string")).alias("host"),
        body.alias("robots_txt"),
    )
    parsed = parse_robots(raw)
    return parsed.select(
        "host", F.concat_ws("|", "disallow_prefixes").alias("prefixes"))


# Written by q_crawl_bfs, read back by the DuckDB oracle (read_parquet) —
# the crawl itself is sf-independent (deterministic synthetic graph), so one
# fixed path works at every sf and the oracle string can stay static.
CRAWL_BFS_SNAPSHOT = "/tmp/spark_graft_oracle/crawl_bfs_selection_snapshot"


def q_crawl_bfs(spark, sf_dir):
    """Three BFS rounds of the deterministic synthetic crawl.  Each round
    exports its pre-selection candidate snapshot (url_hash/priority/host
    budget k materialized) to ``CRAWL_BFS_SNAPSHOT``; the oracle re-derives
    every round's fetch set from that snapshot with a window query — a hard
    check of the politeness-budgeted top-k scheduling (crawler.py
    ``_rank_frontier``).  Graph expansion/seen-dedup determinism is covered
    by tests + checkpoint-resume equality."""
    import shutil

    from scrapy_processors_spark.frontier.crawler import CrawlConfig, run_crawl

    shutil.rmtree(CRAWL_BFS_SNAPSHOT, ignore_errors=True)
    cfg = CrawlConfig(n_hosts=50, max_degree=4, max_rounds=3, n_buckets=8,
                      selection_snapshot_path=CRAWL_BFS_SNAPSHOT)
    state = run_crawl(spark, cfg)
    return state["fetch_log"].orderBy("round", F.desc("priority"), "url_hash")


FRONTIER_QUERIES = {
    "url_canonicalize": q_url_canonicalize,
    "url_seen_antijoin": q_url_seen_antijoin,
    "url_seen_cuckoo": q_url_seen_cuckoo,
    "url_latest_snapshot": q_url_latest_snapshot,
    "robots_parse": q_robots_parse,
    "frontier_priority": q_frontier_priority,
    "crawl_bfs": q_crawl_bfs,
}

FRONTIER_ORACLES = {
    "url_canonicalize": f"""
        SELECT doc_id, {CANONICALIZE_SQL.replace('{u}', _RAW_URL_SQL)} AS canon_url
        FROM documents
    """,
    # xxhash64 is Spark-side only; the oracle reproduces the *set semantics*
    # (anti-join on exact url identity — equivalent since xxhash64 is
    # injective on this candidate set, and both sides key on the same urls)
    "url_seen_antijoin": """
        WITH urls AS (
            SELECT doc_id,
                   'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example.com/p/'
                   || CAST(doc_id % 1000 AS VARCHAR) AS url
            FROM documents
        )
        SELECT u.doc_id, u.url FROM urls u
        WHERE u.url NOT IN (SELECT url FROM urls WHERE doc_id % 3 = 0)
    """,
# the cuckoo fast path + backstop must reproduce the anti-join EXACTLY;
# same oracle as url_seen_antijoin by construction
    "url_seen_cuckoo": """
        WITH urls AS (
            SELECT doc_id,
                   'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example.com/p/'
                   || CAST(doc_id % 1000 AS VARCHAR) AS url
            FROM documents
        )
        SELECT u.doc_id, u.url FROM urls u
        WHERE u.url NOT IN (SELECT url FROM urls WHERE doc_id % 3 = 0)
    """,
    "url_latest_snapshot": """
        WITH p AS (
            SELECT doc_id,
                   'https://host' || CAST(doc_id % 40 AS VARCHAR)
                   || '.example.com/p/' || CAST(doc_id % 200 AS VARCHAR) AS url,
                   TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id) AS warc_ts
            FROM documents
        ), r AS (
            SELECT url, doc_id, warc_ts,
                   row_number() OVER (PARTITION BY url
                                      ORDER BY warc_ts DESC, doc_id DESC) AS rn
            FROM p
        )
        SELECT url, doc_id, strftime(warc_ts, '%Y-%m-%d %H:%M:%S') AS ts
        FROM r WHERE rn = 1
    """,
# independent first-principles oracle: the synthesized bodies follow known
# templates, so the expected *-agent prefixes per case are derivable without
# replaying the window parse — a stronger check than an implementation replay
    "robots_parse": """
        SELECT 'h' || CAST(doc_id AS VARCHAR) AS host,
               CASE WHEN doc_id % 4 = 0 THEN '/a' || CAST(doc_id AS VARCHAR) || '|/b'
                    WHEN doc_id % 4 = 1 THEN '/c' || CAST(doc_id AS VARCHAR)
                    WHEN doc_id % 4 = 2 THEN '/d' || CAST(doc_id AS VARCHAR)
               END AS prefixes
        FROM documents WHERE doc_id % 4 <> 3
    """,
    "frontier_priority": """
        WITH fr AS (
            SELECT doc_id,
                   'host' || CAST(doc_id % 20 AS VARCHAR) AS host,
                   doc_id % 7 AS depth,
                   round(1.0 / (1.0 + (doc_id % 7)), 6) AS priority
            FROM documents
        ), ranked AS (
            SELECT host, doc_id, priority,
                   row_number() OVER (PARTITION BY host ORDER BY priority DESC, doc_id ASC) AS rank
            FROM fr
        )
        SELECT host, doc_id, priority, rank FROM ranked WHERE rank <= 3
    """,
    # Re-derives every round's fetch set from the pre-selection snapshot the
    # Spark query just exported (round, url, url_hash, host, priority, k):
    # rank per (round, host) by (priority DESC, url_hash ASC) — url_hash is
    # unique within a round's frontier, so the order is total — and keep
    # rank <= k (the politeness token budget).  This is _rank_frontier's
    # spec re-executed by an independent engine; only the hash arrives
    # materialized.
    "crawl_bfs": f"""
        WITH snap AS (
            SELECT * FROM read_parquet('{CRAWL_BFS_SNAPSHOT}/*.parquet')
        ), ranked AS (
            SELECT round, url, url_hash, host, priority,
                   row_number() OVER (
                       PARTITION BY round, host
                       ORDER BY priority DESC, url_hash ASC) AS rank, k
            FROM snap
        )
        SELECT round, url, url_hash, host, priority
        FROM ranked WHERE rank <= k
    """,
}
