"""`dedup` workload: a seeded pages table (Zipf vocabulary, planted
near-duplicate clusters of mixed size, one embedding per page with planted
near-duplicate vectors) run through text extraction, signatures, exact
dedup, MinHash candidate pairs with n-gram Jaccard verification, embedding
cosine over the candidates, and brute-force plus IVF top-k for a fixed
query subset.  One item = one page.

Checks per rep: extracted text equals the generator's text; planted-pair
recall stays at or above ``RECALL_FLOOR``; the distinct-text count matches
the generator; a sample of verified pairs is re-scored on the driver; every
query's exact top-1 neighbour is a planted mate, and IVF finds a planted
mate for at least ``IVF_FLOOR`` of the queries.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T

from scrapy_processors_spark import MapCompose, RemoveHTMLTags, clean_string
from scrapy_processors_spark.datapipe import dedup, similarity, textstats
from scrapy_processors_spark.sources import pages as sources

from harness import SLOTS

SIZES = {"full": 1200, "toy": 300}
VOCAB = 4000
ZIPF_A = 1.15
WORDS = (60, 140)
DIM = 32
CLUSTER_SIZES = (2, 2, 2, 3, 3, 4, 6, 10, 24)
CLUSTERED_SHARE = 0.15
EXACT_COPY_P = 0.3
SUBST_P = 0.03
N_QUERIES = 24
VERIFY_J = 0.5
RECALL_FLOOR = 0.85
IVF_FLOOR = 0.8
RESCORE_PAIRS = 40

EXTRACT = MapCompose(RemoveHTMLTags(), clean_string)


def _zipf_words(rng, n: int) -> list:
    ids = rng.zipf(ZIPF_A, size=n)
    ids = np.where(ids > VOCAB, rng.integers(1, VOCAB + 1, size=n), ids)
    return [f"t{i}" for i in ids]


def _html(words: list, rng) -> str:
    paras, i = [], 0
    while i < len(words):
        k = int(rng.integers(12, 30))
        sep = "  " if rng.random() < 0.2 else " "
        paras.append(f"<p>{sep.join(words[i:i + k])}</p>")
        i += k
    return ("<html><head></head><body><div class=\"c\">"
            + "\n".join(paras) + "</div></body></html>")


def generate_pages(seed: int, n: int):
    """pandas pages frame + the planted ground truth."""
    rng = np.random.default_rng(seed)
    docs: list = [None] * n
    vecs = rng.standard_normal((n, DIM))
    cluster_of = np.full(n, -1)
    order = rng.permutation(n)
    # the same cluster sizes for every seed: the seed moves content, not
    # how many planted pairs there are
    sizes = list(CLUSTER_SIZES) * max(1, round(n * CLUSTERED_SHARE / sum(CLUSTER_SIZES)))
    pos = 0
    for cid, size in enumerate(sizes):
        members = order[pos:pos + size]
        pos += size
        base = _zipf_words(rng, int(rng.integers(*WORDS)))
        for j, m in enumerate(members):
            words = list(base)
            if j > 0 and rng.random() >= EXACT_COPY_P:
                hits = np.flatnonzero(rng.random(len(words)) < SUBST_P)
                if len(hits) == 0:
                    hits = [int(rng.integers(0, len(words)))]
                for h in hits:
                    w = words[h]
                    while w == words[h]:
                        w = _zipf_words(rng, 1)[0]
                    words[h] = w
            docs[m] = words
            cluster_of[m] = cid
        vecs[members] = vecs[members[0]] + 0.05 * rng.standard_normal((len(members), DIM))
    for i in range(n):
        if docs[i] is None:
            docs[i] = _zipf_words(rng, int(rng.integers(*WORDS)))
    texts = [" ".join(w) for w in docs]
    hosts = np.minimum(rng.zipf(1.3, size=n), 500)
    pdf = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "url": [f"https://host{h}.example.com/doc/{i}" for i, h in enumerate(hosts)],
        "warc_ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(np.arange(n), unit="s"),
        "html": [_html(w, rng).encode("utf-8") for w in docs],
        "text": texts,
        "lang": "en",
        "embedding": list(vecs),
    })
    planted = set()
    by_cluster: dict = {}
    for i, c in enumerate(cluster_of):
        if c >= 0:
            by_cluster.setdefault(int(c), []).append(i)
    for members in by_cluster.values():
        for a in members:
            for b in members:
                if a < b:
                    planted.add((a, b))
    clustered = sorted(i for m in by_cluster.values() for i in m)
    queries = sorted(rng.choice(clustered, size=min(N_QUERIES, len(clustered)),
                                replace=False).tolist())
    truth = {"texts": texts, "vecs": vecs, "cluster_of": cluster_of,
             "planted": planted, "queries": queries,
             "distinct_texts": len(set(texts))}
    return pdf, truth


PAGES_SCHEMA = T.StructType(list(sources.PAGES_SCHEMA.fields) + [
    T.StructField("doc_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.DoubleType())),
])


def _shingles(text: str) -> set:
    words = text.split(" ")
    return {" ".join(words[i:i + 2]) for i in range(max(len(words) - 1, 1))}


def _fold_cos(a, b) -> float:
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
    for x in a:
        na += x * x
    for y in b:
        nb += y * y
    return dot / (float(np.sqrt(na)) * float(np.sqrt(nb)))


class Workload:
    name = "dedup"
    slots = SLOTS
    SPANS = ("sources.read_pages_s", "kernels.html_text_s", "datapipe.signatures_s",
             "datapipe.exact_dedup_s", "datapipe.minhash_pairs_s", "datapipe.verify_s",
             "datapipe.vector_pairs_s", "datapipe.ann_s")

    def __init__(self, spark, work_dir, seed, size, tracer):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.n = SIZES[size]
        self.items = self.n
        self.pages_path = os.path.join(work_dir, "pages")
        self.rep_root = os.path.join(work_dir, "dedup-rep")
        self.centroids = similarity.ivf_fixed_centroids(dim=DIM, n_lists=8)
        self.counts = {}

    def _p(self, name: str) -> str:
        return os.path.join(self.rep_root, name)

    # ---- set-up
    def generate(self, final: bool) -> None:
        pdf, truth = generate_pages(self.seed, self.n)
        df = self.spark.createDataFrame(pdf[[f.name for f in PAGES_SCHEMA.fields]],
                                        PAGES_SCHEMA)
        sources.write_pages(df.coalesce(1), self.pages_path)
        if final:
            self.truth = truth

    def prepare(self) -> None:
        pass

    # ---- reps
    def _extracted(self, pages):
        return pages.select(
            "doc_id", "text", "embedding",
            EXTRACT.apply_scalar(F.col("html").cast("string")).alias("body"))

    @staticmethod
    def _signatures(ext):
        return ext.select("doc_id", "body", "text", "embedding",
                          dedup.simhash16_kernel(F.col("body")).alias("simhash"),
                          textstats.fingerprint(F.col("body")).alias("fp"))

    @staticmethod
    def _candidates(sig):
        return dedup.minhash_pairs(sig, text_col="body", id_col="doc_id",
                                   num_hashes=8, bands=4, impl="lanes")

    @staticmethod
    def _sides(sig):
        a = sig.select(F.col("doc_id").alias("id_a"), F.col("body").alias("ta"),
                       F.col("embedding").alias("va"))
        b = sig.select(F.col("doc_id").alias("id_b"), F.col("body").alias("tb"),
                       F.col("embedding").alias("vb"))
        return a, b

    def _ann(self, sig):
        cands = sig.select(F.col("doc_id").alias("vec_id"), "embedding")
        queries = cands.where(F.col("vec_id").isin(self.truth["queries"]))
        exact = similarity.cosine_topk(queries, cands, k=3)
        ivf = similarity.ivf_topk(queries, cands, k=3, centroids=self.centroids,
                                  n_probe=2)
        return exact, ivf

    def rep(self) -> None:
        write = lambda df, name: df.write.mode("overwrite").parquet(self._p(name))  # noqa: E731
        read = self.spark.read.parquet
        pages = sources.read_pages(self.spark, self.pages_path)
        write(self._signatures(self._extracted(pages)), "sig")
        sig = read(self._p("sig"))
        write(dedup.exact_dedup_groups(sig, text_col="body", id_col="doc_id"), "groups")
        write(self._candidates(sig), "cands")
        dedup.release_minhash_cache()
        a, b = self._sides(sig)
        scored = (read(self._p("cands")).join(a, "id_a").join(b, "id_b")
                  .select("id_a", "id_b",
                          dedup.ngram_jaccard(F.col("ta"), F.col("tb")).alias("jaccard"),
                          dedup.cosine_similarity_fast(F.col("va"), F.col("vb")).alias("cos")))
        write(scored, "pairs")
        exact, ivf = self._ann(sig)
        write(exact, "topk")
        write(ivf, "ivf")

    def rep_dirs(self):
        return (self.rep_root,)

    def check(self, corrupt: bool) -> list:
        read = self.spark.read.parquet
        truth, issues = self.truth, []
        sig = read(self._p("sig"))
        n_rows = sig.count()
        bad_text = sig.where(F.col("body") != F.col("text")).count()
        if n_rows != self.n or bad_text:
            issues.append(f"text: {n_rows} rows, {bad_text} differ from expected")
        groups = read(self._p("groups")).count()
        want_groups = truth["distinct_texts"] + (1 if corrupt else 0)
        if groups != want_groups:
            issues.append(f"exact dedup: {groups} groups, expected {want_groups}")
        pairs = read(self._p("pairs"))
        n_cands = pairs.count()
        verified = pairs.where(F.col("jaccard") >= VERIFY_J).collect()
        found = {(r["id_a"], r["id_b"]) for r in verified}
        recall = len(found & truth["planted"]) / max(1, len(truth["planted"]))
        self.counts = {"dedup.candidate_pairs": (n_cands, "count"),
                       "dedup.verify_yield": (len(verified) / max(1, n_cands), "ratio"),
                       "dedup.planted_recall": (recall, "ratio")}
        if recall < RECALL_FLOOR:
            issues.append(f"planted-pair recall {recall:.3f} < {RECALL_FLOOR}")
        texts, vecs = truth["texts"], truth["vecs"]
        for r in sorted(verified, key=lambda r: (r["id_a"], r["id_b"]))[:RESCORE_PAIRS]:
            sa, sb = _shingles(texts[r["id_a"]]), _shingles(texts[r["id_b"]])
            j = len(sa & sb) / len(sa | sb)
            c = _fold_cos(vecs[r["id_a"]], vecs[r["id_b"]])
            if j != r["jaccard"] or abs(c - r["cos"]) > 1e-12:
                issues.append(f"pair {r['id_a']},{r['id_b']}: spark jaccard/cos "
                              f"{r['jaccard']}/{r['cos']} driver {j}/{c}")
        cluster = truth["cluster_of"]
        mates = lambda q, c: cluster[q] >= 0 and cluster[q] == cluster[c]  # noqa: E731
        for name, floor in (("topk", 1.0), ("ivf", IVF_FLOOR)):
            rows = read(self._p(name)).collect()
            top1 = {r["query_id"]: r["cand_id"] for r in rows if r["rank"] == 1}
            hit = sum(mates(q, top1[q]) for q in top1) / len(truth["queries"])
            if hit < floor:
                issues.append(f"{name}: planted mate at rank 1 for {hit:.2f} of queries")
            for r in rows[:10]:
                c = _fold_cos(vecs[r["query_id"]], vecs[r["cand_id"]])
                if abs(round(c, 4) - r["cos"]) > 1.0001e-4:
                    issues.append(f"{name} {r['query_id']},{r['cand_id']}: "
                                  f"cos {r['cos']} vs driver {c}")
        return issues

    def traced_rep(self) -> None:
        """Each layer's input is materialised untimed; the span times a noop
        write of that layer's output alone."""
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        span = self.tracer.span
        with span("sources.read_pages_s"):
            noop(sources.read_pages(self.spark, self.pages_path))
        pages = sources.read_pages(self.spark, self.pages_path).persist()
        pages.count()
        with span("kernels.html_text_s"):
            noop(self._extracted(pages))
        ext = self._extracted(pages).persist()
        ext.count()
        with span("datapipe.signatures_s"):
            noop(self._signatures(ext))
        with span("datapipe.exact_dedup_s"):
            noop(dedup.exact_dedup_groups(ext, text_col="body", id_col="doc_id"))
        with span("datapipe.minhash_pairs_s"):
            noop(self._candidates(ext))
        cands = self._candidates(ext).persist()
        cands.count()
        a, b = self._sides(ext)
        with span("datapipe.verify_s"):
            noop(cands.join(a, "id_a").join(b, "id_b").select(
                "id_a", "id_b", dedup.ngram_jaccard(F.col("ta"), F.col("tb"))))
        with span("datapipe.vector_pairs_s"):
            noop(cands.join(a, "id_a").join(b, "id_b").select(
                "id_a", "id_b", dedup.cosine_similarity_fast(F.col("va"), F.col("vb"))))
        with span("datapipe.ann_s"):
            for df in self._ann(ext):
                noop(df)

    def layer_counts(self) -> dict:
        return dict(self.counts)

    def info(self) -> dict:
        return {"pages": self.n, "planted_pairs": len(self.truth["planted"]),
                "queries": len(self.truth["queries"]),
                "recall_floor": RECALL_FLOOR, "ivf_floor": IVF_FLOOR,
                **{k: v for k, (v, _) in self.counts.items()}}
