"""Driver-facing queries + DuckDB oracles for the datapipe layer.

Each Spark query and its oracle are written over the *same* md5-derived
deterministic hashes, so results are bit-identical across engines; float
outputs are rounded to fixed decimals before comparison.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from scrapy_processors_spark.datapipe import dedup, multimodal, similarity, textstats
from scrapy_processors_spark.datapipe.textstats import STOPWORDS
from scrapy_processors_spark.session import read_table


# ------------------------------------------------------------------ dedup
def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup_groups(read_table(spark, sf_dir, "documents"))


def q_dedup_minhash(spark, sf_dir):
    """Lanes family (one md5 per shingle, four 32-bit lanes from the
    digest) through the adaptive Arrow kernel, then one band join; the
    oracle replays the same family with DuckDB list_min/list_transform and
    one self-join per band."""
    return dedup.minhash_pairs(read_table(spark, sf_dir, "documents"),
                               num_hashes=4, bands=2, shingle_n=2)


def q_dedup_simhash(spark, sf_dir):
    """r06: Arrow kernel (``simhash16_kernel``) instead of the interpreted
    ``F.aggregate`` fold — higher-order array functions are CodegenFallback
    (per-element interpreted eval; guide §4.2), and this was the single
    most expensive driver-bench query at sf1.0 (60.2 s).  Value-identical
    bytes by construction, enforced by
    tests/test_datapipe.py::test_simhash_kernel_matches_fold; ``simhash16``
    stays as the Column-expression semantic spec."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       dedup.simhash16_kernel(F.col("text")).alias("simhash"))


def q_ngram_jaccard(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    return pairs.select(
        "id_a", "id_b",
        F.round(dedup.ngram_jaccard(F.col("ta"), F.col("tb")), 4).alias("jaccard"),
    )


def q_embedding_dedup(spark, sf_dir):
    """r06 (VERDICT r05 #1a): norms precomputed per SIDE before the join —
    |rows| ``l2_norm_kernel`` evaluations instead of 2·|pairs| — mirroring
    ``similarity.cosine_topk``.  IEEE-identical to
    ``cosine_similarity_fast`` per pair: same kernels, same
    ``dot / (norm_a * norm_b)`` JVM division order."""
    emb = read_table(spark, sf_dir, "embeddings", expensive=False)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
                   dedup.l2_norm_kernel(F.col("embedding")).alias("na"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
                   dedup.l2_norm_kernel(F.col("embedding")).alias("nb"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    return pairs.select(
        "id_a", "id_b",
        F.round(dedup.dot_product_kernel(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")), 4).alias("cos"),
    )


# ------------------------------------------------------------- similarity
def q_ann_topk(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings", expensive=False)
    queries = emb.where(F.col("vec_id") < 5)
    return similarity.cosine_topk(queries, emb, k=3)


def q_ann_lsh(spark, sf_dir):
    """LSH-bucketed ANN.  The hyperplanes are deterministic md5 bytes, so the
    bucket assignment is reproducible in DuckDB (the oracle inlines the plane
    weights as literals and replays the same sequential double fold); recall
    vs the brute-force baseline is measured by ``similarity.lsh_recall``."""
    emb = read_table(spark, sf_dir, "embeddings", expensive=False)
    queries = emb.where(F.col("vec_id") < 5)
    return similarity.lsh_bucketed_topk(queries, emb, k=3)


def q_ann_ivf(spark, sf_dir):
    """IVF ANN with PINNED deterministic centroids: with ``centroids=``
    fixed, list assignment is a pure per-dimension fold dot (ties by
    centroid id), so the probe-restricted exact rank is SQL-replayable
    with centroid literals — same construction as ``ann_lsh``.  Quality of
    the data-derived (Lloyd) index is measured separately by
    ``similarity.ivf_recall`` in bench.py; this row verifies the IVF
    mechanics (assignment, n_probe explode, cluster equi-join, rank) end
    to end."""
    emb = read_table(spark, sf_dir, "embeddings", expensive=False)
    queries = emb.where(F.col("vec_id") < 5)
    return similarity.ivf_topk(
        queries, emb, k=3, n_lists=8, n_probe=2,
        centroids=similarity.ivf_fixed_centroids(dim=64, n_lists=8))


# -------------------------------------------------------------- textstats
def q_lang_id(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    # two-projection form of lang_id: identical result, each regex pass
    # evaluated once (textstats.lang_id_two_phase docstring; r6)
    return textstats.lang_id_two_phase(docs, "doc_id")


def q_token_count(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textstats.token_count_ws(F.col("text")).alias("n_ws_tokens"),
        textstats.token_count_bpe_ish(F.col("text")).alias("n_bpe_tokens"),
    )


def q_quality_score(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", textstats.quality_score(F.col("text")).alias("quality"))


def q_fingerprint(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", textstats.fingerprint(F.col("text")).alias("fp"))


def q_gopher_quality(spark, sf_dir):
    """Gopher-style repetition filter signals + keep/drop verdict."""
    docs = read_table(spark, sf_dir, "documents")
    sig = textstats.repetition_signals(F.col("text"))
    return docs.select(
        "doc_id",
        sig["dup_word_frac"].alias("dup_word_frac"),
        sig["top_2gram_frac"].alias("top_2gram_frac"),
        textstats.gopher_pass(signals=sig).alias("keep"),
    )


def q_pii_scrub(spark, sf_dir):
    """Email + phone redaction over a deterministically PII-salted text (the
    raw documents contain no PII, so salt some in from doc_id)."""
    docs = read_table(spark, sf_dir, "documents")
    salted = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 555 010"), (F.col("doc_id") % 10000).cast("string"),
    )
    return docs.select("doc_id", textstats.pii_scrub(salted).alias("scrubbed"))


def q_multimodal_features(spark, sf_dir):
    """Binary-column plumbing over synthetic media.  The deterministic fake
    decode is byte-chunk means (exact sum/len doubles), so the features are
    projected to scalar columns f0..f7 and hash-compared against a DuckDB
    oracle that replays the same byte folds over ``encode(text)``."""
    docs = read_table(spark, sf_dir, "documents")
    feats = multimodal.extract_features(multimodal.media_from_documents(docs), fake=True)
    return feats.select(
        "media_id", "kind", "n_bytes", "duration_ms",
        *[F.col("features")[i].alias(f"f{i}") for i in range(multimodal.FEATURE_DIM)],
    )


DATAPIPE_QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_minhash": q_dedup_minhash,
    "dedup_simhash": q_dedup_simhash,
    "ngram_jaccard": q_ngram_jaccard,
    "embedding_dedup": q_embedding_dedup,
    "ann_topk": q_ann_topk,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "lang_id": q_lang_id,
    "token_count": q_token_count,
    "quality_score": q_quality_score,
    "fingerprint": q_fingerprint,
    "multimodal_features": q_multimodal_features,
    "gopher_quality": q_gopher_quality,
    "pii_scrub": q_pii_scrub,
}


# ------------------------------------------------------------- oracles ---
def _sql_in_list(words):
    return ", ".join(f"'{w}'" for w in words)


def _simhash_oracle() -> str:
    sums = ",\n        ".join(
        "SUM(CASE WHEN ((instr('0123456789abcdef', substr(md5(w), {i}, 1))-1) // {p}) % 2 = 1 "
        "THEN 1 ELSE -1 END) AS s{b}".format(i=b // 4 + 1, p=2 ** (b % 4), b=b)
        for b in range(16)
    )
    fp = " + ".join(f"(CASE WHEN s{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(16))
    return f"""
        WITH w AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        ), sums AS (
            SELECT doc_id, {sums}
            FROM w GROUP BY doc_id
        )
        SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM sums
    """


_SHINGLES = """
        SELECT doc_id, text, string_split(text, ' ') AS words,
               [array_to_string(words[i:i+1], ' ')
                FOR i IN range(1, greatest(len(string_split(text, ' ')) - 1, 1) + 1)] AS shingles
        FROM documents
"""


def _minhash_oracle() -> str:
    # lanes family (the one q_dedup_minhash computes): hash j is
    # the 8-hex span [8*j, 8*j+8) of ONE md5(shingle) — lexicographic min
    # on the hex span == numeric min on those 32 digest bits
    mh = ",\n               ".join(
        f"list_min(list_transform(shingles, s -> substr(md5(s), {1 + 8 * j}, 8))) AS mh_{j}"
        for j in range(4)
    )
    return f"""
        WITH sh AS ({_SHINGLES}),
        sig AS (SELECT doc_id AS id, {mh} FROM sh),
        b0 AS (SELECT a.id AS id_a, b.id AS id_b FROM sig a JOIN sig b
               ON a.mh_0 = b.mh_0 AND a.mh_1 = b.mh_1 AND a.id < b.id),
        b1 AS (SELECT a.id AS id_a, b.id AS id_b FROM sig a JOIN sig b
               ON a.mh_2 = b.mh_2 AND a.mh_3 = b.mh_3 AND a.id < b.id)
        SELECT DISTINCT id_a, id_b FROM (SELECT * FROM b0 UNION ALL SELECT * FROM b1)
    """


def _lang_id_oracle() -> str:
    from scrapy_processors_spark.datapipe.textstats import (
        _SCRIPT_THRESHOLD_PCT, _SCRIPTS)

    scores = {
        lang: f"len(list_filter(string_split(text, ' '), w -> w IN ({_sql_in_list(ws)})))"
        for lang, ws in STOPWORDS.items()
    }
    # mirror the Spark fold: best starts at en, replaced on strictly-greater
    best, best_score = "'en'", scores["en"]
    for lang in ["es", "fr", "pt"]:
        best = f"CASE WHEN {scores[lang]} > {best_score} THEN '{lang}' ELSE {best} END"
        best_score = f"CASE WHEN {scores[lang]} > {best_score} THEN {scores[lang]} ELSE {best_score} END"
    # script-ratio pre-pass (r05): same ranges/threshold as textstats.lang_id;
    # DuckDB's RE2 takes the literal-char classes verbatim, and length() /
    # regexp_extract_all count characters like Spark's length/regexp_count
    nonspace = "length(regexp_replace(text, '\\s', '', 'g'))"
    for lang, rng in reversed(_SCRIPTS):
        cnt = f"len(regexp_extract_all(text, '{rng}'))"
        best = (f"CASE WHEN {cnt} * 100 > {nonspace} * {_SCRIPT_THRESHOLD_PCT} "
                f"THEN '{lang}' ELSE {best} END")
    return f"SELECT doc_id, {best} AS lang_guess FROM documents"


def _quality_oracle() -> str:
    stop = _sql_in_list(STOPWORDS["en"])
    return f"""
        WITH q AS (
            SELECT doc_id,
                   length(text) AS n_chars,
                   len(string_split(text, ' ')) AS n_words,
                   length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
                   len(list_filter(string_split(text, ' '), w -> w IN ({stop}))) AS n_stop
            FROM documents
        )
        SELECT doc_id,
               round(0.5 * (n_alpha / greatest(n_chars, 1))
                     + 0.3 * least((n_stop / greatest(n_words, 1)) * 5, 1.0)
                     + 0.2 * (CASE WHEN (n_chars - (n_words - 1)) / greatest(n_words, 1)
                                        BETWEEN 3 AND 10 THEN 1.0 ELSE 0.0 END),
                     4) AS quality
        FROM q
    """


def _multimodal_oracle() -> str:
    """Replays the per-kind fake decodes byte-for-byte in DuckDB: utf-8
    bytes recovered from hex(encode(text)); np.array_split chunking (first
    L%8 chunks one byte longer); image = chunk mean, audio = chunk mean of
    squares, video = chunk mean over the stride-2 subsequence (index j=i/2,
    length M=ceil(L/2)).  CAST(SUM AS DOUBLE)/COUNT is the same IEEE
    division the numpy fakes perform (sums are exact integers)."""
    fcols = ",\n               ".join(
        f"coalesce(max(CASE WHEN k = 2 AND av.c = {i} THEN av.m "
        f"WHEN k = 0 AND a.c = {i} THEN a.m_img "
        f"WHEN k = 1 AND a.c = {i} THEN a.m_aud END), 0.0) AS f{i}"
        for i in range(8)
    )
    return f"""
        WITH b AS (
            SELECT doc_id AS media_id, doc_id % 3 AS k,
                   upper(hex(encode(text))) AS h,
                   coalesce(octet_length(encode(text)), 0) AS L
            FROM documents
        ), byt AS (
            SELECT media_id, L, i,
                   CAST((strpos('0123456789ABCDEF', substr(h, CAST(2*i+1 AS INT), 1)) - 1) * 16
                      + (strpos('0123456789ABCDEF', substr(h, CAST(2*i+2 AS INT), 1)) - 1) AS BIGINT) AS v,
                   CASE WHEN i < (L % 8) * (L // 8 + 1) THEN i // (L // 8 + 1)
                        ELSE (L % 8) + (i - (L % 8) * (L // 8 + 1)) // greatest(L // 8, 1)
                   END AS c,
                   CASE WHEN i % 2 = 0 THEN
                       CASE WHEN i // 2 < (((L + 1) // 2) % 8) * (((L + 1) // 2) // 8 + 1)
                            THEN (i // 2) // (((L + 1) // 2) // 8 + 1)
                            ELSE (((L + 1) // 2) % 8)
                               + ((i // 2) - (((L + 1) // 2) % 8) * (((L + 1) // 2) // 8 + 1))
                                 // greatest(((L + 1) // 2) // 8, 1)
                       END
                   END AS cv
            FROM b, LATERAL (SELECT unnest(range(L)) AS i) ix
            WHERE L > 0
        ), agg AS (
            SELECT media_id, c,
                   CAST(sum(v) AS DOUBLE) / count(*) AS m_img,
                   CAST(sum(v * v) AS DOUBLE) / count(*) AS m_aud
            FROM byt GROUP BY media_id, c
        ), aggv AS (
            SELECT media_id, cv AS c, CAST(sum(v) AS DOUBLE) / count(*) AS m
            FROM byt WHERE cv IS NOT NULL GROUP BY media_id, cv
        )
        SELECT b.media_id,
               CASE k WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               CAST(b.L AS BIGINT) AS n_bytes,
               CAST(CASE k WHEN 1 THEN b.L WHEN 2 THEN 2 * b.L ELSE 0 END AS BIGINT) AS duration_ms,
               {fcols}
        FROM b
        LEFT JOIN agg a ON a.media_id = b.media_id
        LEFT JOIN aggv av ON av.media_id = b.media_id
        GROUP BY b.media_id, b.k, b.L
    """


def _ann_lsh_oracle(dim: int = 64, n_planes: int = 5, n_tables: int = 16) -> str:
    """Inlines the deterministic md5-derived hyperplane weights as double
    list literals and replays the Spark-side sequential fold
    (list_reduce(list_prepend(0.0, ...)) — identical IEEE operation order,
    so the sign/bucket match bitwise) for every table, then the multi-table
    union (OR over per-table bucket equality), pair-dedup, and the same
    cosine + rank as ``ann_topk``."""
    tables = similarity.lsh_tables(dim, n_planes, n_tables)

    def plane_dot(plane):
        lit = "[" + ", ".join(repr(w) for w in plane) + "]"
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range({dim}), i -> "
            f"CAST(embedding[i + 1] AS DOUBLE) * ({lit})[i + 1])), (a, b) -> a + b)"
        )

    buckets = []
    for t, planes in enumerate(tables):
        b = " + ".join(
            f"(CASE WHEN {plane_dot(pl)} > 0 THEN {1 << p} ELSE 0 END)"
            for p, pl in enumerate(planes)
        )
        buckets.append(f"{b} AS b{t}")
    bucket_cols = ",\n                   ".join(buckets)
    any_match = " OR ".join(f"q.b{t} = c.b{t}" for t in range(n_tables))
    return f"""
        WITH bkt AS (
            SELECT vec_id, embedding,
                   {bucket_cols}
            FROM embeddings
        ), scored AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id,
                   round(list_cosine_similarity(
                       list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
                       list_transform(c.embedding, x -> CAST(x AS DOUBLE))), 4) AS cos
            FROM bkt q JOIN bkt c ON ({any_match})
            WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id
        ), ranked AS (
            SELECT query_id, cand_id, cos,
                   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, cand_id, cos, rank FROM ranked WHERE rank <= 3
    """


def _ann_ivf_oracle(dim: int = 64, n_lists: int = 8, n_probe: int = 2,
                    k: int = 3) -> str:
    """Replays pinned-centroid IVF in DuckDB: per-vector raw dot with each
    centroid literal via the same sequential left-fold as
    ``ivf_assign_udf`` (bit-exact), nearest-list rank with centroid-id
    tie-break, candidate list = rank 1, query probes = rank <= n_probe,
    then the probe-restricted cosine top-k exactly as ``ann_topk``."""
    cents = similarity.ivf_fixed_centroids(dim=dim, n_lists=n_lists)

    def cdot(j):
        lit = "[" + ", ".join(repr(w) for w in cents[j]) + "]"
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range({dim}), i -> "
            f"CAST(embedding[i + 1] AS DOUBLE) * ({lit})[i + 1])), (a, b) -> a + b)"
        )

    sim_cols = ",\n                   ".join(
        f"{cdot(j)} AS s{j}" for j in range(n_lists))
    unions = " UNION ALL ".join(
        f"SELECT vec_id, {j} AS cl, s{j} AS sim FROM sims"
        for j in range(n_lists))
    return f"""
        WITH sims AS (
            SELECT vec_id, {sim_cols}
            FROM embeddings
        ), unp AS ({unions}),
        ranked_cl AS (
            SELECT vec_id, cl, row_number() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cl ASC) AS r
            FROM unp
        ),
        cand AS (SELECT vec_id, cl FROM ranked_cl WHERE r = 1),
        probes AS (SELECT vec_id, cl FROM ranked_cl WHERE r <= {n_probe}),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   round(list_cosine_similarity(
                       list_transform(qe.embedding, x -> CAST(x AS DOUBLE)),
                       list_transform(ce.embedding, x -> CAST(x AS DOUBLE))), 4) AS cos
            FROM probes q
            JOIN cand c ON q.cl = c.cl AND q.vec_id <> c.vec_id
            JOIN embeddings qe ON qe.vec_id = q.vec_id
            JOIN embeddings ce ON ce.vec_id = c.vec_id
            WHERE q.vec_id < 5
        ), ranked AS (
            SELECT query_id, cand_id, cos, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, cand_id, cos, rank FROM ranked WHERE rank <= {k}
    """


def _gopher_oracle() -> str:
    return """
        WITH w AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
            FROM documents
        ), g AS (
            SELECT doc_id, words, len(words) AS n,
                   list_transform(range(1, greatest(len(words), 1)),
                                  i -> words[i] || ' ' || words[i + 1]) AS grams
            FROM w
        ), s AS (
            SELECT doc_id,
                   round((n - len(list_distinct(words))) / greatest(n, 1), 4) AS dup_word_frac,
                   round((CASE WHEN n <= 1 THEN 0
                          ELSE list_max(list_transform(list_distinct(grams),
                                   x -> len(list_filter(grams, y -> y = x)))) END)
                         / greatest(len(grams), 1), 4) AS top_2gram_frac
            FROM g
        )
        SELECT doc_id, dup_word_frac, top_2gram_frac,
               (dup_word_frac <= 0.3 AND top_2gram_frac <= 0.18) AS keep
        FROM s
    """


def _pii_oracle() -> str:
    salted = ("text || ' contact user' || CAST(doc_id AS VARCHAR) || "
              "'@example.com or +1 555 010' || CAST(doc_id % 10000 AS VARCHAR)")
    email = textstats.EMAIL_PATTERN
    phone = textstats.PHONE_PATTERN
    return ("SELECT doc_id, regexp_replace(regexp_replace(" + salted + ", '"
            + email + "', '<EMAIL>', 'g'), '" + phone
            + "', '<PHONE>', 'g') AS scrubbed FROM documents")


DATAPIPE_ORACLES = {
    "dedup_exact": """
        SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS n_dups
        FROM documents GROUP BY text
    """,
    "dedup_minhash": _minhash_oracle(),
    "dedup_simhash": _simhash_oracle(),
    "ngram_jaccard": f"""
        WITH sh AS ({_SHINGLES}),
        s2 AS (SELECT doc_id, list_distinct(shingles) AS sset FROM sh)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_intersect(a.sset, b.sset))
                     / len(list_distinct(list_concat(a.sset, b.sset))), 4) AS jaccard
        FROM s2 a JOIN s2 b ON b.doc_id = a.doc_id + 1
    """,
    "embedding_dedup": """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(
                   list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 4) AS cos
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    """,
    "ann_topk": """
        WITH scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   round(list_cosine_similarity(
                       list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
                       list_transform(c.embedding, x -> CAST(x AS DOUBLE))), 4) AS cos
            FROM embeddings q JOIN embeddings c ON q.vec_id < 5 AND q.vec_id <> c.vec_id
        ), ranked AS (
            SELECT query_id, cand_id, cos,
                   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, cand_id, cos, rank FROM ranked WHERE rank <= 3
    """,
    "ann_lsh": _ann_lsh_oracle(),
    "ann_ivf": _ann_ivf_oracle(),
    "multimodal_features": _multimodal_oracle(),
    "lang_id": _lang_id_oracle(),
    "token_count": f"""
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_ws_tokens,
               len(regexp_extract_all(text, '{textstats.BPE_ISH_PATTERN}')) AS n_bpe_tokens
        FROM documents
    """,
    "quality_score": _quality_oracle(),
    "gopher_quality": _gopher_oracle(),
    "pii_scrub": _pii_oracle(),
    "fingerprint": f"""
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                                list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
                   (a, b) -> (a * 31 + b) % {textstats.MOD}) AS fp
        FROM documents
    """,
}
