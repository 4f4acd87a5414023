#!/usr/bin/env python3
"""Dump formatted physical plans for representative queries into PLANS.md,
with automated checks of the plan properties that matter at 100 TB:

- column pruning reaches the parquet scan (ReadSchema lists only used cols),
- SQL-tier pipelines stay in WholeStageCodegen with zero Python nodes,
- kernel-tier pipelines contain exactly ONE ArrowEvalPython per fused group,
- broadcast joins where a small side exists,
- filter pushdown (PushedFilters) on selective scans.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def prunes(p: str, *cols: str) -> bool:
    """Every column in ``cols`` carries a live dynamic-pruning filter; a
    filter Spark could not plan reads ``dynamicpruningexpression(true)``."""
    return all(f"dynamicpruningexpression({c}#" in p for c in cols)


def below(p: str, upper: str, lower: str) -> bool:
    """Some node whose formatted details match ``upper`` has a node
    matching ``lower`` in its subtree (regexes over one node's block)."""
    tree, _, details = p.partition("\n\n\n")
    blocks = (block.strip() for block in details.split("\n\n"))
    info = {int(m.group(1)): block for block in blocks
            if (m := re.match(r"\((\d+)\) ", block))}
    nodes = [(len(line) - len(line.lstrip(" :+-")), int(m.group(1)))
             for line in tree.splitlines() if (m := re.search(r"\((\d+)\)$", line))]
    for i, (depth, nid) in enumerate(nodes):
        if re.search(upper, info.get(nid, "")):
            for d, sub in nodes[i + 1:]:
                if d <= depth:
                    break
                if re.search(lower, info.get(sub, "")):
                    return True
    return False


def main():
    from scrapy_processors_spark.session import get_spark
    import __spark_entry__ as entrymod

    # AQE disabled for the AUDIT session only: pre-execution explain of an
    # AQE-wrapped plan omits the WholeStageCodegen ids this audit asserts
    # on.  The engine posture (session.py) keeps AQE on; that conf is
    # asserted directly below instead of via plan text.
    spark = get_spark(master="local[8]", app_name="plans", shuffle_partitions=8,
                      extra_conf={"spark.sql.adaptive.enabled": "false"})
    sf_dir = "/root/testdata/sf0.01"
    qs = entrymod.queries()

    def n_exchanges(p):
        return len(re.findall(r"\(\d+\) Exchange", p))

    sections = []
    checks = []

    def add(name, df, expect):
        p = plan_of(df)
        results = []
        for desc, fn in expect:
            ok = fn(p)
            results.append(f"  - {'PASS' if ok else 'FAIL'}: {desc}")
            checks.append((name, desc, ok))
        sections.append(f"## {name}\n\n" + "\n".join(results) +
                        "\n\n```\n" + p.strip()[:4000] + "\n```\n")

    # 1. pure-SQL pipeline: no Python anywhere, one codegen span over scan
    nw = qs["normalize_whitespace"](spark, sf_dir)
    add("normalize_whitespace (SQL tier)", nw, [
        ("no Python eval nodes", lambda p: "Python" not in p),
        ("whole-stage codegen spans present", lambda p: "codegen id" in p),
        ("scan reads only doc_id,text", lambda p: bool(
            re.search(r"ReadSchema: struct<doc_id:bigint,text:string>", p))),
    ])

    # 2. mixed pipeline: exactly one fused ArrowEvalPython
    cs = qs["clean_string"](spark, sf_dir)
    add("clean_string (fused kernel + SQL)", cs, [
        ("exactly one ArrowEvalPython (fused)", lambda p: len(re.findall(r"\(\d+\) ArrowEvalPython", p)) == 1),
        ("scan reads only doc_id,text", lambda p: "struct<doc_id:bigint,text:string>" in p),
    ])

    # 3. filter pushdown on a selective scan
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sel = docs.where(F.col("doc_id") < 10).select("doc_id", "n_chars")
    add("selective scan (pushdown)", sel, [
        ("PushedFilters contains LessThan", lambda p: "LessThan(doc_id,10)" in p),
        ("ReadSchema pruned to 2 cols", lambda p: "struct<doc_id:bigint,n_chars:" in p),
    ])

    # 4. minhash band join: one equi-join on (band, band_key), AQE enabled;
    # the signatures come from the lanes Arrow kernel (one fused
    # ArrowEvalPython, computed once thanks to the persisted signatures
    # table that feeds both join sides), never a row-at-a-time
    # BatchEvalPython
    mh = qs["dedup_minhash"](spark, sf_dir)
    add("dedup_minhash (LSH band join)", mh, [
        ("AQE on in the engine session posture (asserted on session.py — "
         "the audit session pins AQE off to expose codegen ids in explain)",
         lambda p: '"spark.sql.adaptive.enabled", "true"' in __import__(
             "inspect").getsource(__import__(
                 "scrapy_processors_spark.session",
                 fromlist=["get_spark"]).get_spark)),
        ("exactly one ArrowEvalPython (lanes kernel)",
         lambda p: len(re.findall(r"\(\d+\) ArrowEvalPython", p)) == 1),
        ("no row-based Python eval", lambda p: "BatchEvalPython" not in p),
    ])

    # 4b. materialized IVF index: the probe join must dynamic-partition-prune
    # the cluster_id-partitioned candidate scan (file-level pruning — the
    # property that makes n_probe/n_lists the scan fraction at 100 TB), and
    # the query side's norm kernel runs below the explode Generate (once
    # per query, not once per probe)
    import tempfile

    from scrapy_processors_spark.datapipe import similarity as _sim
    _idx = tempfile.mkdtemp() + "/ivf_idx"
    _cents = _sim.ivf_fixed_centroids(dim=64, n_lists=8)
    _emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _sim.ivf_build_index(_emb, _idx, n_lists=8, centroids=_cents)
    ivfs = _sim.ivf_search(spark, _idx, _emb.where(F.col("vec_id") < 5),
                           k=3, n_probe=2)
    add("ivf_search (materialized index)", ivfs, [
        ("dynamic partition pruning on cluster_id",
         lambda p: prunes(p, "cluster_id")),
        ("broadcast probe join", lambda p: "Broadcast" in p),
        ("query-side l2_norm_kernel below the explode Generate",
         lambda p: below(p, r"^\(\d+\) Generate[\s\S]*explode",
                         r"^\(\d+\) ArrowEvalPython[\s\S]*l2_norm_kernel")),
    ])

    # 4c. materialized LSH index: the same pruning on (table_id, bucket),
    # and the query side's norm kernel runs below the posexplode Generate
    # (once per vector, not once per table)
    _lidx = tempfile.mkdtemp() + "/lsh_idx"
    _sim.lsh_build_index(_emb, _lidx)
    lshs = _sim.lsh_search(spark, _lidx, _emb.where(F.col("vec_id") < 5), k=3)
    add("lsh_search (materialized index)", lshs, [
        ("dynamic partition pruning on (table_id, bucket)",
         lambda p: prunes(p, "table_id", "bucket")),
        ("query-side l2_norm_kernel below the posexplode Generate",
         lambda p: below(p, r"^\(\d+\) Generate[\s\S]*posexplode",
                         r"^\(\d+\) ArrowEvalPython[\s\S]*l2_norm_kernel")),
    ])

    # 5. ann_topk: broadcast of the small query side
    ann = qs["ann_topk"](spark, sf_dir)
    add("ann_topk (broadcast small side)", ann, [
        ("BroadcastNestedLoop/Exchange present", lambda p: "Broadcast" in p),
        ("window top-k present", lambda p: "Window" in p or "RunningWindow" in p),
    ])

    # 6. simhash (r06): Arrow kernel over the fanned-out scan — exactly one
    # ArrowEvalPython, no interpreted F.aggregate fold, and exactly the one
    # scan fan-out Exchange (hash on doc_id; see session.read_table)
    sh = qs["dedup_simhash"](spark, sf_dir)
    add("dedup_simhash (Arrow kernel)", sh, [
        ("exactly one scan fan-out Exchange", lambda p: n_exchanges(p) == 1),
        ("exactly one ArrowEvalPython",
         lambda p: len(re.findall(r"\(\d+\) ArrowEvalPython", p)) == 1),
        ("no interpreted aggregate fold", lambda p: "aggregate(" not in p),
    ])

    # 7. ann_lsh: multi-table bucket equi-join — never an all-pairs product
    lsh = qs["ann_lsh"](spark, sf_dir)
    add("ann_lsh (multi-table bucket join)", lsh, [
        ("broadcast of the exploded query side", lambda p: "Broadcast" in p),
        ("equi-join on (table_id,bucket), no cross product",
         lambda p: "CartesianProduct" not in p),
        ("pair-dedup aggregate present",
         lambda p: "HashAggregate" in p or "SortAggregate" in p),
    ])

    # 8. multimodal: one Arrow-batched mapInPandas over a pruned scan
    mm = qs["multimodal_features"](spark, sf_dir)
    add("multimodal_features (Arrow binary batches)", mm, [
        ("single MapInPandas node", lambda p: len(re.findall(r"\(\d+\) MapInPandas", p)) == 1),
        ("scan reads only doc_id,text", lambda p: "struct<doc_id:bigint,text:string>" in p),
    ])

    # 9. gopher_quality: ONE Arrow counts-kernel (linear Counter; the r02
    # pure-Column form was O(distinct*n) interpreted) — still map-only
    gq = qs["gopher_quality"](spark, sf_dir)
    add("gopher_quality (one counts kernel, map-only)", gq, [
        ("exactly one ArrowEvalPython (shared by signals AND verdict)",
         lambda p: len(re.findall(r"\(\d+\) ArrowEvalPython", p)) == 1),
        ("only the scan fan-out Exchange", lambda p: n_exchanges(p) <= 1),
        ("scan reads only doc_id,text", lambda p: "struct<doc_id:bigint,text:string>" in p),
    ])

    # 11. compose: builtin/reducer-only fold compiles to pure Columns
    cp = qs["compose"](spark, sf_dir)
    add("compose (SQL-tier fold)", cp, [
        ("no Python eval nodes", lambda p: "Python" not in p),
        ("whole-stage codegen spans present", lambda p: "codegen id" in p),
        ("only the scan fan-out Exchange", lambda p: n_exchanges(p) <= 1),
    ])

    # 12. lang_id: regexp_count passes (the r02 stopword fold was an
    # interpreted higher-order lambda, ~13 ms/row)
    li = qs["lang_id"](spark, sf_dir)
    add("lang_id (codegen regexp passes)", li, [
        ("no Python eval nodes", lambda p: "Python" not in p),
        ("only the scan fan-out Exchange", lambda p: n_exchanges(p) <= 1),
        ("whole-stage codegen spans present", lambda p: "codegen id" in p),
    ])

    # 10. pii_scrub: regexp-only scrub — codegen over a pruned scan
    pii = qs["pii_scrub"](spark, sf_dir)
    add("pii_scrub (codegen regex scrub)", pii, [
        ("no Python eval nodes", lambda p: "Python" not in p),
        ("whole-stage codegen spans present", lambda p: "codegen id" in p),
        ("only the scan fan-out Exchange", lambda p: n_exchanges(p) <= 1),
    ])

    # 13. outlinks (r04): literal-index array+slice — must stay codegen
    # (the transform(sequence(...)) form was CodegenFallback and its
    # interpreted eval anti-scaled under concurrency, BENCH.md §7)
    from scrapy_processors_spark.frontier import graph as _graph
    ol = _graph.seed_urls(spark, 100, 50).select(
        _graph.outlinks(F.col("url"), 8, 50).alias("links"))
    add("outlinks (codegen array+slice)", ol, [
        ("no Python eval nodes", lambda p: "Python" not in p),
        ("whole-stage codegen spans present", lambda p: "codegen id" in p),
        ("no interpreted higher-order transform",
         lambda p: "transform(" not in p and "lambdafunction" not in p),
    ])

    # 14. fingerprint (r04): Arrow kernel by default — the per-character
    # interpreted F.aggregate fold is demoted to spec (VERDICT r03 #3)
    fp = qs["fingerprint"](spark, sf_dir)
    add("fingerprint (Arrow kernel)", fp, [
        ("exactly one ArrowEvalPython", lambda p: len(re.findall(r"\(\d+\) ArrowEvalPython", p)) == 1),
        ("no interpreted aggregate fold", lambda p: "aggregate(" not in p),
        ("scan reads only doc_id,text", lambda p: "struct<doc_id:bigint,text:string>" in p),
    ])

    # 15. IVF ANN (r04): the probe join must be a cluster_id equi-join —
    # never a cartesian product (only the brute-force baseline is allowed
    # one) — with the tiny query side broadcast
    from scrapy_processors_spark.datapipe import similarity as _sim
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs5 = emb.where(F.col("vec_id") < 5)
    cents = _sim.ivf_centroids(emb, n_lists=8, n_iters=2)
    ivf = _sim.ivf_topk(qs5, emb, k=3, n_lists=8, n_probe=2, centroids=cents)
    add("ivf_topk (equi-join probe)", ivf, [
        ("no cartesian product", lambda p: "Cartesian" not in p),
        ("broadcast hash join on cluster_id",
         lambda p: "BroadcastHashJoin" in p and "cluster_id" in p),
        ("top-k rank window present", lambda p: "row_number" in p),
        ("query-side l2_norm_kernel below the explode Generate",
         lambda p: below(p, r"^\(\d+\) Generate[\s\S]*explode",
                         r"^\(\d+\) ArrowEvalPython[\s\S]*l2_norm_kernel")),
    ])

    n_fail = sum(1 for _, _, ok in checks if not ok)
    header = (
        "# PLANS — physical-plan audit (generated by scripts/explain_plans.py)\n\n"
        f"{len(checks) - n_fail}/{len(checks)} plan property checks pass.\n\n"
        "Properties audited: column pruning to the parquet scan, filter\n"
        "pushdown, whole-stage codegen coverage, one-fused-ArrowEvalPython\n"
        "per kernel pipeline, broadcast of small join sides, AQE, and\n"
        "shuffle-free folds where the algorithm allows.\n\n"
    )
    with open(REPO / "PLANS.md", "w") as f:
        f.write(header + "\n".join(sections))
    for name, desc, ok in checks:
        print(("PASS " if ok else "FAIL "), name, "—", desc)
    print(f"{len(checks) - n_fail}/{len(checks)} checks pass; PLANS.md written")


if __name__ == "__main__":
    main()
