"""Datapipe layer sanity: dedup finds planted duplicates, similarity ranks a
vector's twin first, textstats are consistent, multimodal plumbing yields the
declared schema."""

import hashlib
import re

import pytest

from pyspark.sql import functions as F

from scrapy_processors_spark.datapipe import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),   # exact dup of 0
        (2, "the quick brown fox jumps over a lazy dog", "en"),     # near dup
        (3, "completely different content about spark engines", "en"),
        (4, "el rapido zorro marron salta sobre el perro que es", "es"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup(docs):
    out = dedup.exact_dedup_groups(docs).collect()
    groups = {r["keep_id"]: r["n_dups"] for r in out}
    assert groups[0] == 2  # docs 0,1 collapse
    assert len(out) == 4


def test_minhash_finds_exact_dups(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.minhash_pairs(docs).collect()}
    assert (0, 1) in pairs
    assert (0, 3) not in pairs and (1, 3) not in pairs


def _lanes_signature(text, num_hashes, shingle_n=2):
    """Driver-side lanes minhashes: hash 4*g + lane is the min over shingles
    of hex span [8*lane, 8*lane+8) of md5(shingle [|| '#g'])."""
    shingles = dedup._shingles_py(text, shingle_n)
    sig = []
    for g in range((num_hashes + 3) // 4):
        suffix = "" if g == 0 else f"#{g}"
        digests = [hashlib.md5((sh + suffix).encode("utf-8")).hexdigest()
                   for sh in shingles]
        sig.extend(min(d[8 * lane:8 * lane + 8] for d in digests)
                   for lane in range(4))
    return sig[:num_hashes]


def _reference_pairs(rows, num_hashes, bands):
    per_band = num_hashes // bands
    buckets = {}
    for doc_id, text in rows:
        sig = _lanes_signature(text, num_hashes)
        for b in range(bands):
            key = "".join(sig[b * per_band:(b + 1) * per_band])
            buckets.setdefault((b, key), []).append(doc_id)
    return {(i, j) for ids in buckets.values() for i in ids for j in ids if i < j}


def test_minhash_pairs_match_driver_reference(spark):
    """The band join equals a pure-Python LSH over the same lanes hashes, at
    two signature shapes and under both broadcast and sort-merge joins, and
    the kernel runs once: exactly one ArrowEvalPython in the executed plan
    (the persisted signatures feed both join sides)."""
    base = ("near duplicate pages share most of their shingles so banded "
            "minhash buckets collide for them with high probability today")
    rows = [(10 + k, base + f" variant{k}") for k in range(4)]   # near-dup cluster
    rows.append((20, base + " variant0"))                         # exact dup of 10
    # partial overlaps: whether these collide depends on the hash family
    words = base.split()
    for k, (pos, n) in enumerate([(0, 5), (3, 6), (6, 5), (9, 6), (1, 7), (11, 5)]):
        edited = list(words)
        for j in range(n):
            edited[(pos + 2 * j) % len(words)] = f"edit{k}_{j}"
        rows.append((40 + k, " ".join(edited)))
    rows += [(30, "an unrelated page about crawling frontiers and bloom filters"),
             (31, "another unrelated document on spark joins and shuffles"),
             (32, "word")]                                        # single shingle
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    try:
        for num_hashes, bands in ((8, 4), (4, 2)):
            want = _reference_pairs(rows, num_hashes, bands)
            cluster = {(i, j) for i in range(10, 14) for j in range(i + 1, 14)}
            assert (10, 20) in want and len(want & cluster) >= 3
            for threshold in (saved, "-1"):
                spark.conf.set(key, threshold)
                out = dedup.minhash_pairs(docs, num_hashes=num_hashes, bands=bands)
                got = {(r["id_a"], r["id_b"]) for r in out.collect()}
                assert got == want, (num_hashes, bands, threshold)
                plan = out._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted"))
                join = "SortMergeJoin" if threshold == "-1" else "BroadcastHashJoin"
                assert join in plan, (num_hashes, bands, threshold)
                assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    finally:
        spark.conf.set(key, saved)
        dedup.release_minhash_cache()


def test_minhash_cache_bounded(spark, docs):
    """VERDICT r04 #10: repeated minhash_pairs calls must not grow the
    persisted set — each call releases the previous signatures cache, and
    release_minhash_cache() drops the last one.

    r06 de-flake (VERDICT r05 #2): assert on the tracked handles in
    ``_minhash_sigs_cache`` and their storage levels, NOT on the global
    ``getPersistentRDDs().size()`` — Spark's ContextCleaner asynchronously
    unpersists garbage-collected RDDs from earlier tests between reads, so
    the global count can shrink under the test (observed 38 -> 31)."""
    def is_persisted(df):
        lvl = df.storageLevel
        return lvl.useMemory or lvl.useDisk

    dedup.release_minhash_cache()
    assert dedup._minhash_sigs_cache == []
    handles = []
    for i in range(3):
        # distinct filter per call -> distinct logical plan: storageLevel is
        # resolved through the plan-keyed CacheManager, so identical plans
        # would alias each other's cache entry and mask the unpersist
        dedup.minhash_pairs(docs.where(F.col("doc_id") >= -1 - i)).count()
        # the cache holds exactly the latest call's signatures table
        assert len(dedup._minhash_sigs_cache) == 1
        handles.append(dedup._minhash_sigs_cache[0])
    assert is_persisted(handles[-1])
    for h in handles[:-1]:  # earlier calls' tables were unpersisted
        assert not is_persisted(h)
    dedup.release_minhash_cache()
    assert dedup._minhash_sigs_cache == []
    assert not is_persisted(handles[-1])


def test_simhash_identical_for_dups(docs):
    out = {r["doc_id"]: r["simhash"]
           for r in docs.select("doc_id", dedup.simhash16(F.col("text")).alias("simhash")).collect()}
    assert out[0] == out[1]
    assert 0 <= out[0] < 2 ** 16
    assert out[0] != out[3]


def test_ngram_jaccard(docs):
    a = docs.where("doc_id = 0").select(F.col("text").alias("ta"))
    b = docs.where("doc_id = 2").select(F.col("text").alias("tb"))
    j = a.crossJoin(b).select(
        dedup.ngram_jaccard(F.col("ta"), F.col("tb")).alias("j")).collect()[0]["j"]
    assert 0.4 < j < 1.0
    same = a.crossJoin(a.select(F.col("ta").alias("tb"))).select(
        dedup.ngram_jaccard(F.col("ta"), F.col("tb")).alias("j")).collect()[0]["j"]
    assert same == 1.0


@pytest.fixture(scope="module")
def vecs(spark):
    import math
    rows = []
    for i in range(20):
        base = [math.sin(i * 7 + d) for d in range(8)]
        rows.append((i, base))
    rows.append((100, [x + 0.001 for x in rows[0][1]]))  # near-twin of vec 0
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk(vecs):
    q = vecs.where("vec_id = 0")
    out = similarity.cosine_topk(q, vecs, k=1).collect()
    assert out[0]["cand_id"] == 100  # the planted twin ranks first
    assert out[0]["cos"] > 0.999


def test_lsh_bucketed_topk(vecs):
    q = vecs.where("vec_id = 0")
    out = similarity.lsh_bucketed_topk(q, vecs, k=3, dim=8).collect()
    # twin shares every hyperplane bucket (cos ~ 1) so it must be found
    assert any(r["cand_id"] == 100 for r in out)


def test_ivf_topk(vecs):
    """r04 scale path #2: IVF with a deterministic k-means quantizer."""
    import numpy as np

    # RNG-free: two independent builds agree (to float-sum reordering —
    # F.avg means are reproducible only to ~last-ulp across partitionings,
    # see the ivf_centroids docstring; on this well-separated fixture the
    # assignments cannot flip so the tolerance is comfortable)
    c1 = similarity.ivf_centroids(vecs, n_lists=4, n_iters=3)
    c2 = similarity.ivf_centroids(vecs, n_lists=4, n_iters=3)
    assert np.allclose(c1, c2, atol=1e-9)
    assert c1.shape == (4, 8)

    # probing ALL lists must reproduce the brute-force top-k exactly
    # (IVF only prunes; inside the probed lists the rank is exact)
    q = vecs.where("vec_id < 3")
    exact = {(r["query_id"], r["rank"]): r["cand_id"]
             for r in similarity.cosine_topk(q, vecs, k=3).collect()}
    full = {(r["query_id"], r["rank"]): r["cand_id"]
            for r in similarity.ivf_topk(q, vecs, k=3, n_lists=4, n_probe=4,
                                         centroids=c1).collect()}
    assert full == exact

    # the planted twin of vec 0 lands in vec 0's own top list
    out = similarity.ivf_topk(vecs.where("vec_id = 0"), vecs, k=1,
                              n_lists=4, n_probe=1, centroids=c1).collect()
    assert out and out[0]["cand_id"] == 100


def test_ivf_string_id(vecs):
    """ADVICE r04: ivf must accept a non-integral id column — the init
    grouping hashes the id (xxhash64) instead of pmod-ing it."""
    sv = vecs.select(
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding")
    out = similarity.ivf_topk(sv.where("vec_id = 'doc-0'"), sv,
                              k=1, n_lists=4, n_probe=4).collect()
    assert out and out[0]["cand_id"] == "doc-100"


def test_lsh_index_build_search_equals_topk(spark, vecs, tmp_path):
    """r05: the materialized LSH index must return exactly what the
    one-shot lsh_bucketed_topk returns (same deterministic plane family,
    re-derived from the _params sidecar); index dirs partitioned by
    table_id/bucket."""
    import os
    path = str(tmp_path / "lsh_index")
    similarity.lsh_build_index(vecs, path, dim=8, n_planes=5, n_tables=4)
    assert any(d.startswith("table_id=") for d in os.listdir(path))
    queries = vecs.where(F.col("vec_id") < 5)
    got = sorted(
        (r["query_id"], r["cand_id"], r["cos"], r["rank"])
        for r in similarity.lsh_search(spark, path, queries, k=3).collect())
    want = sorted(
        (r["query_id"], r["cand_id"], r["cos"], r["rank"])
        for r in similarity.lsh_bucketed_topk(queries, vecs, k=3, dim=8,
                                              n_planes=5, n_tables=4).collect())
    assert got == want and got


def test_ivf_index_build_search_equals_topk(spark, vecs, tmp_path):
    """r05: the materialized index path (build once, search many) must
    return exactly what the one-shot ivf_topk returns for the same
    centroids/probes — and the candidate table must be partitioned by
    cluster_id on disk (the file-level pruning that makes probes cheap at
    scale).  The _centroids subdir is underscore-prefixed so the main
    parquet read ignores it."""
    import os
    path = str(tmp_path / "ivf_index")
    cents = similarity.ivf_fixed_centroids(dim=8, n_lists=8)
    similarity.ivf_build_index(vecs, path, n_lists=8, centroids=cents)
    assert any(d.startswith("cluster_id=") for d in os.listdir(path))

    queries = vecs.where(F.col("vec_id") < 5)
    got = sorted(
        (r["query_id"], r["cand_id"], r["cos"], r["rank"])
        for r in similarity.ivf_search(spark, path, queries, k=3,
                                       n_probe=2).collect())
    want = sorted(
        (r["query_id"], r["cand_id"], r["cos"], r["rank"])
        for r in similarity.ivf_topk(queries, vecs, k=3, n_lists=8,
                                     n_probe=2, centroids=cents).collect())
    assert got == want and got


def test_simhash_kernel_matches_fold(docs):
    out = docs.select(
        "doc_id",
        dedup.simhash16(F.col("text")).alias("expr"),
        dedup.simhash16_kernel(F.col("text")).alias("kern"),
    ).collect()
    assert out, "empty comparison"
    for r in out:
        assert r["expr"] == r["kern"], r["doc_id"]


def test_stop_count_rx_matches_fold(spark):
    """The codegen regexp reformulation must agree token-for-token with the
    interpreted fold spec on every boundary shape (newlines, tabs, doubled
    spaces, punctuation-attached, leading/trailing, adjacency)."""
    rows = [
        ("the quick the of",), ("the of and to",), ("",), (" ",),
        ("the",), (" the ",), ("the\nof",), ("of\n",), ("\nthe of",),
        ("a,the of.",), ("the  of",), ("xthe of thex",), ("the\tof",),
        ("el la the los que",), ("não são uma",), ("the the the",),
        ("to to  to   to",), ("is",), ("is ",), (" is",), ("for$ with",),
    ]
    df = spark.createDataFrame(rows, "text string")
    words = F.split(F.col("text"), " ")
    cols = []
    for lang in textstats.STOPWORDS:
        cols.append(textstats._stop_count(words, lang).alias(f"fold_{lang}"))
        cols.append(textstats._stop_count_rx(F.col("text"), lang).alias(f"rx_{lang}"))
    for r in df.select("text", *cols).collect():
        for lang in textstats.STOPWORDS:
            assert r[f"fold_{lang}"] == r[f"rx_{lang}"], (r["text"], lang)


def test_textstats(docs):
    out = docs.select(
        "doc_id",
        textstats.lang_id(F.col("text")).alias("lang_guess"),
        textstats.token_count_ws(F.col("text")).alias("nt"),
        textstats.quality_score(F.col("text")).alias("q"),
        textstats.fingerprint(F.col("text")).alias("fp"),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[0]["lang_guess"] == "en"
    assert by_id[4]["lang_guess"] == "es"
    assert by_id[0]["nt"] == 9
    assert 0.0 <= by_id[0]["q"] <= 1.0
    assert by_id[0]["fp"] == by_id[1]["fp"]
    assert by_id[0]["fp"] != by_id[3]["fp"]


def test_lang_id_scripts(spark):
    """r05 widening: script-ratio pre-pass for ar/th/ko/ja/zh/ru, Latin
    stopword argmax otherwise — and Spark must agree with the DuckDB
    oracle formulation on the same rows."""
    rows = [
        (1, "the cat and the dog of the house", "en"),
        (2, "el perro que corre por la casa con los gatos", "es"),
        (3, "مرحبا بكم في الموقع الرسمي للجامعة العربية اليوم", "ar"),
        (4, "สวัสดีครับ ยินดีต้อนรับ สู่เว็บไซต์ ของเรา", "th"),
        (5, "안녕하세요 오늘 날씨가 정말 좋습니다 감사합니다", "ko"),
        (6, "こんにちは、今日はとてもいい天気ですね。ありがとう", "ja"),
        (7, "今天天气很好我们一起去公园散步吧谢谢大家", "zh"),
        (8, "Привет сегодня хорошая погода большое спасибо всем", "ru"),
        (9, "le chat est dans la maison avec les chiens pour une", "fr"),
        # mostly-Latin page with a sprinkle of CJK stays on the Latin path
        (10, "the quick brown fox 天 jumps over the lazy dog and the cat", "en"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in rows],
                               "doc_id int, text string")
    got = {r["doc_id"]: r["lang"] for r in df.select(
        "doc_id", textstats.lang_id(F.col("text")).alias("lang")).collect()}
    assert got == {i: lang for i, _, lang in rows}

    import duckdb

    from scrapy_processors_spark.datapipe.queries import _lang_id_oracle
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    oracle = {i: lang for i, lang in
              con.execute(_lang_id_oracle()).fetchall()}
    assert oracle == got


def test_multimodal_plumbing(docs):
    media = multimodal.media_from_documents(docs)
    feats = multimodal.extract_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == docs.count()
    assert all(len(r["features"]) == multimodal.FEATURE_DIM for r in rows)
    assert all(r["n_bytes"] > 0 for r in rows)
    # deterministic: same input -> same features
    again = {r["media_id"]: r["features"] for r in multimodal.extract_features(media, fake=True).collect()}
    assert all(again[r["media_id"]] == r["features"] for r in rows)
    # kind dispatch: doc_id % 3 cycles image/audio/video, metadata typed per kind
    by_id = {r["media_id"]: r for r in rows}
    for mid, r in by_id.items():
        expect = ("image", "audio", "video")[mid % 3]
        assert r["kind"] == expect
        if expect == "image":
            assert r["duration_ms"] == 0
        elif expect == "audio":
            assert r["duration_ms"] == r["n_bytes"]
        else:
            assert r["duration_ms"] == 2 * r["n_bytes"]
    # the three decoders disagree on the same payload (distinct math)
    buf = b"multimodal bytes 0123456789"
    img = multimodal.decode_image(buf, fake=True)
    aud = multimodal.decode_audio(buf, fake=True)
    vid = multimodal.decode_video(buf, fake=True)
    assert img != aud and img != vid and aud != vid


def test_decode_stub_raises():
    for fn in (multimodal.decode_image, multimodal.decode_audio,
               multimodal.decode_video):
        with pytest.raises(NotImplementedError):
            fn(b"xx", fake=False)


def test_decode_none_payload(spark):
    # ADVICE r03: decode_video(None) raised TypeError and killed the stage;
    # every decoder must zero-fill on None/empty like the oracle's
    # coalesce(octet_length, 0) model
    zero = [0.0] * multimodal.FEATURE_DIM
    for fn in (multimodal.decode_image, multimodal.decode_audio,
               multimodal.decode_video):
        assert fn(None, fake=True) == zero
        assert fn(b"", fake=True) == zero
    # end-to-end: a null-text doc of each kind flows through the stage
    docs = spark.createDataFrame(
        [(0, None), (1, None), (2, None), (3, "x")], "doc_id long, text string")
    media = multimodal.media_from_documents(docs)
    rows = {r["media_id"]: r for r in
            multimodal.extract_features(media, fake=True).collect()}
    assert len(rows) == 4
    for mid in (0, 1, 2):
        assert rows[mid]["features"] == zero
        assert rows[mid]["n_bytes"] == 0


def test_repetition_signals(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),   # mild repetition
        (1, "spam spam spam spam spam spam spam spam"),       # degenerate
        (2, "one two three four five six seven eight"),       # no repetition
        (3, "a"),                                             # single word
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = textstats.repetition_signals(F.col("text"))
    out = {r["doc_id"]: r for r in df.select(
        "doc_id", sig["dup_word_frac"].alias("dw"),
        sig["top_2gram_frac"].alias("tg"),
        textstats.gopher_pass(F.col("text")).alias("keep")).collect()}
    # doc 1: 8 words, 1 distinct -> dup 7/8; 7 grams all "spam spam" -> 1.0
    assert out[1]["dw"] == 0.875 and out[1]["tg"] == 1.0 and not out[1]["keep"]
    # doc 2: all distinct -> 0.0 / each gram unique -> 1/7
    assert out[2]["dw"] == 0.0 and out[2]["tg"] == round(1 / 7, 4) and out[2]["keep"]
    # doc 0: "the" twice -> 1/9 dup; all grams distinct -> 1/8
    assert out[0]["dw"] == round(1 / 9, 4) and out[0]["tg"] == 0.125
    # doc 3: single word -> both zero, keep
    assert out[3]["dw"] == 0.0 and out[3]["tg"] == 0.0 and out[3]["keep"]


def test_pii_scrub(spark):
    rows = [
        (0, "write to jane.doe+x@mail.example.org today"),
        (1, "call +1 (555) 010-7788 or 020 7946 0991 now"),
        (2, "no pii here at all"),
        (3, "mixed: bob@ex.co and +44 20 7946 0958."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id", textstats.pii_scrub(F.col("text")).alias("s")).collect()}
    assert out[0] == "write to <EMAIL> today"
    assert out[1] == "call <PHONE> or <PHONE> now"
    assert out[2] == "no pii here at all"
    assert out[3] == "mixed: <EMAIL> and <PHONE>."


def test_fingerprint_kernel_matches_fold(spark):
    # VERDICT r03 #3: the Arrow kernel must be value-identical to the
    # interpreted Column fold, including non-ASCII (code points, not UTF-16
    # units), supplementary-plane emoji, empties, nulls, and long docs
    rows = [
        (0, "abc"), (1, ""), (2, None), (3, "héllo wörld"),
        (4, "日本語のテキスト"), (5, "a😀b😀c"), (6, "x y\tz\n"),
        (7, "word " * 1000), (8, "a"), (9, "the quick brown fox " * 250),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    out = df.select(
        "id",
        textstats.fingerprint_fold(F.col("t")).alias("fold"),
        textstats.fingerprint(F.col("t")).alias("kern"),
    ).collect()
    assert len(out) == len(rows)
    for r in out:
        assert r["fold"] == r["kern"], r["id"]
    # default dispatch is the kernel (no interpreted per-char fold in hot paths)
    plan = df.select(textstats.fingerprint(F.col("t")).alias("fp")) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan


def test_minhash_lanes_kernel_matches_expr(spark):
    """r04: the lanes family (one md5 -> four 32-bit lanes) must be value-
    identical between the Arrow kernel and its Column spec, across short/
    long/empty/null docs and at widths needing multiple digest groups."""
    rows = [(0, "the quick brown fox jumps over the lazy dog"),
            (1, "a"), (2, ""), (3, None),
            (4, "w1 w2 w3 " * 300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for num_hashes in (4, 6):
        k = dedup.minhash_lanes_kernel(num_hashes=num_hashes, shingle_n=2)
        sh = dedup.word_shingles(F.col("text"), 2)
        expr_cols = [
            dedup.minhash_lanes_column(sh, lane=i % 4, group=i // 4).alias(f"e{i}")
            for i in range(num_hashes)]
        out = df.select("doc_id", k(F.col("text")).alias("kern"), *expr_cols).collect()
        for r in out:
            if r["kern"] is None:
                assert rows[r["doc_id"]][1] is None
                continue
            assert len(r["kern"]) == num_hashes
            for i in range(num_hashes):
                assert r["kern"][i] == r[f"e{i}"], (r["doc_id"], num_hashes, i)


def test_minhash_lanes_kernel_adaptive_paths(spark):
    """r05: the kernel's batch-level distinct-shingle dedup is picked by a
    cross-row probe; BOTH branches must match the Column spec.  Batch A is
    dup-heavy (shared tiny vocab -> dedupe branch), batch B is all-distinct
    shingles (-> per-occurrence branch); values must be identical either
    way."""
    dup_rows = [(i, "alpha beta gamma delta " * 10) for i in range(30)]
    uniq_rows = [(i, " ".join(f"tok{i}_{j}" for j in range(40)))
                 for i in range(30)]
    for rows in (dup_rows, uniq_rows):
        df = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
        k = dedup.minhash_lanes_kernel(num_hashes=4, shingle_n=2)
        sh = dedup.word_shingles(F.col("text"), 2)
        expr_cols = [dedup.minhash_lanes_column(sh, lane=i).alias(f"e{i}")
                     for i in range(4)]
        for r in df.select(k(F.col("text")).alias("kern"), *expr_cols).collect():
            for i in range(4):
                assert r["kern"][i] == r[f"e{i}"]


def test_minhash_pairs_impls_find_exact_dups(docs):
    """The lanes family, the only signature impl left, puts the exact
    duplicates in its candidate set; the removed families are rejected."""
    pairs = {(r["id_a"], r["id_b"])
             for r in dedup.minhash_pairs(docs, impl="lanes").collect()}
    assert (0, 1) in pairs
    for impl in ("expr", "kernel", "auto"):
        with pytest.raises(ValueError):
            dedup.minhash_pairs(docs, impl=impl)


def test_cosine_kernels_match_folds(spark):
    """r05: the Arrow dot/norm kernels must be value-IDENTICAL (bit-exact,
    not approximately equal) to the F.aggregate fold spec — the kernel
    accumulates per dimension to preserve the fold's left-to-right IEEE
    order.  Covers dense rows, a null vector, ragged lengths (fold yields
    null via zip_with padding), and magnitudes that would differ under a
    reordered (pairwise/BLAS) sum.  Zero-norm vectors are out of scope for
    a value check: the division is the same JVM Column op in both paths,
    so under ANSI mode both raise DIVIDE_BY_ZERO identically."""
    rows = [
        (0, [1.0, 2.0, 3.0, 4.0], [4.0, 3.0, 2.0, 1.0]),
        (1, [1e16, 1.0, -1e16, 1.0], [1.0, 1.0, 1.0, 1.0]),   # order-sensitive
        (2, None, [1.0, 2.0, 3.0, 4.0]),                       # null vector
        (3, [1.0, 2.0], [1.0, 2.0, 3.0]),                      # ragged
        (5, [0.1] * 64, [0.3] * 64),
    ]
    df = spark.createDataFrame(
        rows, "id long, va array<double>, vb array<double>")
    out = df.select(
        "id",
        dedup.dot_product(F.col("va"), F.col("vb")).alias("dot_f"),
        dedup.dot_product_kernel(F.col("va"), F.col("vb")).alias("dot_k"),
        dedup.l2_norm(F.col("va")).alias("n_f"),
        dedup.l2_norm_kernel(F.col("va")).alias("n_k"),
        dedup.cosine_similarity(F.col("va"), F.col("vb")).alias("cos_f"),
        dedup.cosine_similarity_fast(F.col("va"), F.col("vb")).alias("cos_k"),
    ).collect()
    for r in out:
        assert r["dot_f"] == r["dot_k"], ("dot", r["id"], r["dot_f"], r["dot_k"])
        assert r["n_f"] == r["n_k"], ("norm", r["id"], r["n_f"], r["n_k"])
        assert r["cos_f"] == r["cos_k"], ("cos", r["id"], r["cos_f"], r["cos_k"])
    # and the fast path is Arrow, not interpreted fold
    plan = df.select(dedup.cosine_similarity_fast(
        F.col("va"), F.col("vb")).alias("c"))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "ArrowEvalPython" in plan


def test_lang_id_two_phase_matches_spec(spark):
    """r6: the two-projection plan shape of lang_id must be value-identical
    to the single-Column spec on adversarial + mixed-script texts."""
    from pyspark.sql import functions as F

    from scrapy_processors_spark.datapipe import textstats

    texts = [
        None, "", "   ", "\n\t", "a", "12345 !!!",
        "the quick and of to in is that for with as",
        "el que la los las para por una con del",
        "le les des une est dans pour sur avec pas",
        "os uma não são como mais pelo pela isso ele",
        "هذا نص عربي طويل بما يكفي", "นี่คือข้อความภาษาไทย",
        "이것은 한국어 텍스트입니다", "これは日本語のテキストです",
        "这是中文文本内容", "Это русский текст для теста",
        "mixed الکلمة the of and text", "the the the", "el el el",
        "了了了 the and of to in is that",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    spec = df.select(
        "doc_id", textstats.lang_id(F.col("text")).alias("lang_guess")).collect()
    two = textstats.lang_id_two_phase(df, "doc_id").collect()
    assert sorted(map(tuple, spec)) == sorted(map(tuple, two))
