"""Deduplication operators for large-scale training-data pipelines.

Column-expression / DataFrame compositions, plus Arrow-batched kernels
where an expression fold would run interpreted per element:

- exact:      hash-groupBy on md5(text); map-side partial aggregation.
- MinHash LSH: shingle -> lanes minhashes (one Arrow kernel) -> one
  ``(id, band, band_key)`` row per band -> a single equi-join on
  ``(band, band_key)`` -> distinct pairs.  The classic
  shingle/minhash/band/bucket-join decomposition, in the shape of Spark
  ML's ``MinHashLSH.approxSimilarityJoin``.
- SimHash:    16-bit fingerprint folded per-document with ``F.aggregate``
  (spec) or ``simhash16_kernel`` (Arrow); near-dup candidates share a
  fingerprint.
- n-gram Jaccard: exact verify step over candidate pairs
  (``array_intersect``/``array_union`` on distinct shingle sets).
- embedding cosine: dot/norm folds over ``array<float>`` columns, and
  their Arrow kernels.

Determinism: every hash is md5-derived (same bytes on any engine/executor);
no RNG anywhere.
"""

from __future__ import annotations

import hashlib
from typing import List

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

HEX = "0123456789abcdef"


# ------------------------------------------------------------------ exact
def exact_dedup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text: keeper id + duplicate count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# ---------------------------------------------------------------- minhash
def word_shingles(text: Column, n: int = 2) -> Column:
    """Word n-gram shingles as an array<string> (distinct not applied).

    Built from shifted ``slice`` views combined with ``zip_with`` — HOF
    *arguments* evaluate once, whereas indexing ``words`` inside a lambda
    body would re-split the text per element (O(n_words^2); measured ~30x
    slower at sf0.1).  ``concat_ws`` drops the trailing nulls of the shorter
    shifted views, so a w-word doc yields max(w-(n-1),1) shingles exactly
    like the index formulation.
    """
    words = F.split(text, " ")
    if n == 1:
        return words
    k = F.greatest(F.size(words) - (n - 1), F.lit(1))
    shingles = F.slice(words, 1, k)
    for i in range(1, n):
        shifted = F.slice(words, i + 1, k)
        shingles = F.zip_with(shingles, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return shingles


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 4,
                       shingle_n: int = 2) -> DataFrame:
    """``(id, mh_0 .. mh_{num_hashes-1})`` in the lanes family: hash j is
    the 8-hex span [8*(j%4), 8*(j%4)+8) of md5(shingle [|| '#'+group]),
    computed by the adaptive Arrow kernel ``minhash_lanes_kernel``
    (``ceil(num_hashes/4)`` md5 calls per shingle; batch-level
    distinct-shingle hashing when the batch is dup-heavy)."""
    k = minhash_lanes_kernel(num_hashes, shingle_n)
    sig = df.select(F.col(id_col).alias("id"), k(F.col(text_col)).alias("_mh"))
    return sig.select(
        "id", *[F.col("_mh")[j].alias(f"mh_{j}") for j in range(num_hashes)])


# minhash_pairs persists its signatures table, which the band join reads on
# both sides.  Without the persist the broadcast join runs the lanes kernel
# once per side (2 ArrowEvalPython in the dedup_minhash plan, where
# scripts/explain_plans.py demands exactly one).  Grouping ids per bucket
# instead of a self-join keeps one kernel but shuffles every band row
# (perfbench dedup shuffle_mb_per_kitem 0.073 -> 0.142, past its 0.10
# bound).  The handle is kept here so the NEXT call — or an explicit
# release_minhash_cache() — unpersists it: at most one signatures table is
# cached per session regardless of call count (VERDICT r04 #10: the old
# bare persist leaked one table per call).
_minhash_sigs_cache: List[DataFrame] = []


def release_minhash_cache() -> None:
    """Unpersist the signatures table cached by the last ``minhash_pairs``
    call.  Call after the pairs DataFrame has been consumed; safe to call
    any number of times."""
    while _minhash_sigs_cache:
        _minhash_sigs_cache.pop().unpersist()


def minhash_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  num_hashes: int = 4, bands: int = 2,
                  shingle_n: int = 2, impl: str = "lanes") -> DataFrame:
    """Candidate near-dup pairs ``(id_a, id_b)``, ``id_a < id_b``: docs that
    share any band key (the concatenated minhashes of one band).  Each
    signature row becomes ``bands`` rows of ``(id, band, band_key)``, joined
    once on ``(band, band_key)`` and de-duplicated.  ``impl`` accepts only
    ``"lanes"``, the one signature family.

    Caller contract: the signatures table is persisted lazily and stays
    cached until the next ``minhash_pairs`` call or an explicit
    ``release_minhash_cache()`` — unpersisting eagerly here would make the
    join's two sides recompute the kernel."""
    if impl != "lanes":
        raise ValueError(f"minhash_pairs: unknown impl {impl!r}; only 'lanes'")
    release_minhash_cache()
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n).persist()
    _minhash_sigs_cache.append(sigs)
    rows_per_band = num_hashes // bands
    band_rows = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.concat_ws("", *[F.col(f"mh_{b * rows_per_band + r}")
                                   for r in range(rows_per_band)]).alias("band_key"))
        for b in range(bands)])
    banded = sigs.select("id", F.inline(band_rows))
    a, b = banded.alias("a"), banded.alias("b")
    return (a.join(b, ["band", "band_key"])
            .where(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct())


# ---------------------------------------------------------------- simhash
def _hex_digit_value(c: Column) -> Column:
    return F.conv(c, 16, 10).cast("long")


def simhash16(text: Column) -> Column:
    """16-bit SimHash over word tokens, folded per row with ``F.aggregate``
    (no explode, no shuffle, no UDF).

    bit b comes from hex digit b//4 / bit b%4 of md5(token); the fingerprint
    sets bit b when the signed majority over tokens is positive.

    Expression-shape note: higher-order-function *arguments* are evaluated
    once, but subexpressions inside lambda bodies re-evaluate per element —
    so the md5-derived word value and the sums vector are threaded through
    ``zip_with``/``array_repeat`` arguments instead of being referenced in
    lambda bodies (a naive formulation recomputes md5 16x per word and the
    whole fold 16x per row; measured ~50x slower).
    """
    words = F.split(text, " ")

    # divisor for bit b of the 16-bit value conv(md5[0:4], 16, 10):
    # hex char i+1 holds bits 4*(3-i)..; bit b = (v >> (4*(3-b//4)+b%4)) & 1
    divs = F.array(*[F.lit(1 << (4 * (3 - b // 4) + b % 4)).cast("long")
                     for b in range(16)])
    powers = F.array(*[F.lit(1 << b).cast("long") for b in range(16)])

    def bit_vec(w: Column) -> Column:
        v = _hex_digit_value(F.substring(F.md5(w), 1, 4))  # conv evaluates once:
        return F.zip_with(                                  # argument position
            F.array_repeat(v, 16), divs,
            lambda vv, d: (F.floor(vv / d).cast("long") % 2) * 2 - 1,
        )

    sums = F.aggregate(
        words,
        F.array_repeat(F.lit(0).cast("long"), 16),
        lambda acc, w: F.zip_with(acc, bit_vec(w), lambda a, b: a + b),
    )
    contrib = F.zip_with(
        sums, powers,
        lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(contrib, F.lit(0).cast("long"), lambda acc, x: acc + x)


# ----------------------------------------------- Arrow signature kernels
#
# The expression folds above are shuffle-free but have two costs that grow
# with signature width: (a) the driver-side analysis/codegen of the
# ~16-wide zip_with/aggregate tree is a SERIAL floor measured at ~30-40 s
# per plan (BENCH.md §4) — per job at 100 TB with many pipelines that
# recurs per plan; (b) higher-order array functions are CodegenFallback
# (interpreted per element) at runtime.  These kernels compute the SAME
# bytes (md5-derived, engine-independent) in one Arrow-batched pass and
# compile in milliseconds; ``minhash_signatures`` always runs the lanes
# kernel and ``q_dedup_simhash`` the simhash one.  Mirrors
# ``similarity.lsh_buckets_udf``.

import numpy as np

# per-16-bit-value signed bit contributions, bit order matching the
# expression fold (bit b reads hex digit b//4, bit b%4): built once per
# worker, 65536 x 16 int8 = 2 MB
_SIMHASH_LUT = None


def _simhash_lut() -> "np.ndarray":
    global _SIMHASH_LUT
    if _SIMHASH_LUT is None:
        v = np.arange(65536, dtype=np.int64)
        shifts = np.array([4 * (3 - b // 4) + b % 4 for b in range(16)])
        bits = ((v[:, None] >> shifts[None, :]) & 1).astype(np.int8)
        _SIMHASH_LUT = (bits * 2 - 1).astype(np.int16)
    return _SIMHASH_LUT


def _simhash16_py(text: str, _cache: dict = None) -> int:
    """Vectorized replica of the ``simhash16`` fold: md5 first-2-bytes per
    word -> LUT gather -> column sums.  ``_cache`` memoizes word->value
    within an Arrow batch (webtext vocabulary is Zipf-repetitive, so most
    md5 calls hit the cache)."""
    lut = _simhash_lut()
    md5 = hashlib.md5
    if _cache is None:
        _cache = {}
    vals = []
    for w in text.split(" "):
        v = _cache.get(w)
        if v is None:
            v = int.from_bytes(md5(w.encode("utf-8")).digest()[:2], "big")
            _cache[w] = v
        vals.append(v)
    sums = lut[np.array(vals, dtype=np.int64)].sum(axis=0, dtype=np.int64)
    powers = 1 << np.arange(16, dtype=np.int64)
    return int(powers[sums > 0].sum())


@F.pandas_udf(T.LongType())
def simhash16_kernel(s: pd.Series) -> pd.Series:
    """Arrow-batched SimHash: identical output to ``simhash16`` (equivalence
    enforced by tests/test_datapipe.py::test_simhash_kernel_matches_fold)."""
    cache: dict = {}
    return s.map(lambda v: None if v is None else _simhash16_py(v, cache))


def _shingles_py(text: str, n: int) -> List[str]:
    """Python replica of ``word_shingles``: split on single space, join n
    adjacent tokens with a space; a doc shorter than n words yields one
    (possibly shorter) shingle — matching the slice/zip_with formulation."""
    words = text.split(" ")
    k = max(len(words) - (n - 1), 1)
    return [" ".join(words[i:i + n]) for i in range(k)]


def minhash_lanes_column(shingles: Column, lane: int, group: int = 0) -> Column:
    """Semantic spec of the LANES minhash family: hash function ``4*group +
    lane`` is the 8-hex span ``[8*lane, 8*lane+8)`` of ``md5(shingle)``
    (group 0) or ``md5(shingle || '#group')`` (groups >= 1) — four
    independent 32-bit hash functions per md5 digest, the standard
    multiple-lanes-from-one-hash construction.  Lexicographic min on the
    hex span == numeric min on those 32 digest bits.  DuckDB-expressible
    as ``list_min(list_transform(shingles, s -> substr(md5(s), 1+8*lane,
    8)))``, so the oracle replays the same bytes.  The test reference for
    ``minhash_lanes_kernel``."""
    suffix = F.lit("") if group == 0 else F.lit(f"#{group}")
    return F.array_min(F.transform(
        shingles,
        lambda s: F.substring(F.md5(F.concat(s, suffix)), 1 + 8 * lane, 8)))


def minhash_lanes_kernel(num_hashes: int = 4, shingle_n: int = 2):
    """Arrow kernel for the lanes family — ONE md5 per shingle per GROUP of
    four hash functions, with the per-lane minima reduced in numpy.

    One md5 per shingle per hash function (the earlier md5#seed family)
    measured ~2.3 ms/page at 800 words, and its md5+dict hot loop was the
    last non-scaling term in the 1v4 extract ablation (BENCH.md §7); lanes
    cost ``ceil(num_hashes/4)`` md5 calls plus a vectorized column-min
    (~0.7 ms/page, scales with task slots).  Value-
    identical to ``minhash_lanes_column`` per lane
    (tests/test_datapipe.py::test_minhash_lanes_kernel_matches_expr);
    big-endian uint32 min == byte-lexicographic min == hex min."""
    groups = (num_hashes + 3) // 4

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def kernel(s: pd.Series) -> pd.Series:
        md5 = hashlib.md5
        suffixes = [b"" if g == 0 else f"#{g}".encode("utf-8")
                    for g in range(groups)]

        def one(text):
            if text is None:
                return None
            shingles = [sh.encode("utf-8") for sh in _shingles_py(text, shingle_n)]
            out = []
            for suf in suffixes:
                digs = np.frombuffer(
                    b"".join(md5(e + suf).digest() for e in shingles),
                    dtype=">u4").reshape(-1, 4)
                out.extend(format(int(m), "08x") for m in digs.min(axis=0))
            return out[:num_hashes]

        # r05 (VERDICT r04 #3): adaptive batch-level shingle dedup.  Real
        # web-doc batches repeat shingles heavily ACROSS rows (measured
        # 96.6%% dup on the documents table), so hashing each distinct
        # shingle once per batch cuts the md5 term ~20x there; the bench
        # crawl's synthetic pages are ~99%% distinct, where the dict build
        # is pure overhead (measured 1.7x slower).  A cheap cross-row
        # probe on the first ~4000 occurrences picks the strategy; the
        # min over a row's shingle multiset equals the min over gathered
        # distinct-digest rows, so both paths are value-identical.
        texts = s.tolist()
        probe_occ = 0
        probe_uniq: set = set()
        for text in texts[:20]:
            if text is None:
                continue
            ss = _shingles_py(text, shingle_n)
            probe_occ += len(ss)
            probe_uniq.update(ss)
            if probe_occ >= 4000:
                break
        if probe_occ == 0 or len(probe_uniq) / probe_occ >= 0.8:
            return pd.Series([one(t) for t in texts], index=s.index)

        uniq: dict = {}
        row_ids = []
        for text in texts:
            if text is None:
                row_ids.append(None)
                continue
            ids = []
            for sh in _shingles_py(text, shingle_n):
                i = uniq.get(sh)
                if i is None:
                    i = len(uniq)
                    uniq[sh] = i
                ids.append(i)
            row_ids.append(np.asarray(ids, dtype=np.int64))

        digs = []
        enc = [sh.encode("utf-8") for sh in uniq]
        for suf in suffixes:
            digs.append(np.frombuffer(
                b"".join(md5(e + suf).digest() for e in enc),
                dtype=">u4").reshape(-1, 4))

        out = []
        for ids in row_ids:
            if ids is None:
                out.append(None)
                continue
            vals: list = []
            for dg in digs:
                vals.extend(format(int(m), "08x")
                            for m in dg[ids].min(axis=0))
            out.append(vals[:num_hashes])
        return pd.Series(out, index=s.index)

    return kernel


# ---------------------------------------------------------- ngram jaccard
def ngram_jaccard(text_a: Column, text_b: Column, n: int = 2) -> Column:
    """Exact Jaccard over distinct word n-gram sets (verify stage for LSH
    candidates)."""
    a = F.array_distinct(word_shingles(text_a, n))
    b = F.array_distinct(word_shingles(text_b, n))
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter / union


# ------------------------------------------------------- embedding cosine
def dot_product(vec_a: Column, vec_b: Column) -> Column:
    """Sequential left-fold dot over two array<numeric> columns (double)."""
    a = F.transform(vec_a, lambda x: x.cast("double"))
    b = F.transform(vec_b, lambda x: x.cast("double"))
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(vec: Column) -> Column:
    """L2 norm of an array<numeric> column via the same sequential fold."""
    a = F.transform(vec, lambda x: x.cast("double"))
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine_similarity(vec_a: Column, vec_b: Column) -> Column:
    """Cosine over two array<numeric> columns, computed in double.

    Join-heavy callers (``similarity.cosine_topk``) should instead
    precompute ``l2_norm`` per side before the join and divide
    ``dot_product`` by the product — identical IEEE result, one fold per
    pair instead of three (Catalyst does not factor the norm subexpression
    out through a join)."""
    return dot_product(vec_a, vec_b) / (l2_norm(vec_a) * l2_norm(vec_b))


# ----------------------------------------------- Arrow cosine kernels
#
# The ``dot_product``/``l2_norm`` folds above are the semantic spec, but
# ``F.aggregate``/``F.zip_with`` are CodegenFallback — interpreted per
# ELEMENT — and they sit in the per-pair hot loop of every similarity
# path (cosine_topk / lsh_bucketed_topk / ivf_topk / embedding_dedup).
# At 64 dims x bucketed candidates that is tolerable; at production
# 768-dim embeddings it is the same class of scale-killer the lang_id
# stopword fold and the fingerprint fold were (BENCH.md §7).  These
# kernels compute the SAME IEEE doubles in one Arrow pass: the inner
# loop accumulates PER DIMENSION (acc = acc + a[:, i] * b[:, i]), which
# preserves the sequential left-fold order exactly — np.dot/BLAS would
# reorder the sum (the trick proven in ``similarity.lsh_buckets_udf``).
# Null semantics replicate the folds: null array or length mismatch
# (zip_with pads with null) -> null result.  One unavoidable caveat: a
# null ELEMENT inside a vector reaches a pandas UDF as NaN (Arrow
# coerces list-child nulls), so it yields NaN where the fold yields
# null — irrelevant for embedding columns, which are dense by contract.
# Value-equivalence vs the folds is enforced by
# tests/test_datapipe.py::test_cosine_kernels_match_folds.


def _fold_dot_one(a, b):
    if a is None or b is None or len(a) != len(b):
        return None
    acc = 0.0
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        acc = acc + float(x) * float(y)
    return acc


def _fold_sq_one(a):
    if a is None:
        return None
    acc = 0.0
    for x in a:
        if x is None:
            return None
        acc = acc + float(x) * float(x)
    return acc


def _batch_fold(vals: list, vectorized) -> list:
    """Run ``vectorized(matrix…)`` over the uniform-shape fast path and fall
    back to the exact per-row fold for ragged batches or rows whose fast
    result is NaN (a NaN is either a legitimate IEEE NaN or a None element
    numpy coerced — the fold disambiguates).  ``vals`` is a list of
    (row_tuple, fold_fn) pairs; returns an object list of float/None."""
    try:
        mats = [np.array([r[0][j] for r in vals], dtype=np.float64)
                for j in range(len(vals[0][0]))]
        if any(m.ndim != 2 for m in mats) or len({m.shape for m in mats}) != 1:
            raise ValueError("ragged")
        acc = vectorized(mats)
    except (ValueError, TypeError):
        return [fold(*row) for row, fold in vals]
    out = list(acc)
    for k, v in enumerate(out):
        if np.isnan(v):
            out[k] = vals[k][1](*vals[k][0])
    return out


@F.pandas_udf(T.DoubleType())
def dot_product_kernel(va: pd.Series, vb: pd.Series) -> pd.Series:
    vals = [((a, b), _fold_dot_one) for a, b in zip(va, vb)]
    nn = [k for k, ((a, b), _) in enumerate(vals) if a is not None and b is not None]
    out: list = [None] * len(vals)

    def vec(mats):
        a, b = mats
        # r6: one vectorized multiply, then in-place adds over contiguous
        # rows of the transposed product — same one-add-per-dimension left
        # fold (bit-identical; equivalence suite) without 2 array allocs
        # and a strided column read per dimension
        abT = np.ascontiguousarray((a * b).T)
        acc = np.zeros(a.shape[0], dtype=np.float64)
        for i in range(abT.shape[0]):
            acc += abT[i]
        return acc

    if nn:
        sub = _batch_fold([vals[k] for k in nn], vec)
        for k, v in zip(nn, sub):
            out[k] = v
    return pd.Series(out, index=va.index, dtype=object)


@F.pandas_udf(T.DoubleType())
def l2_norm_kernel(va: pd.Series) -> pd.Series:
    vals = [((a,), _fold_sq_one) for a in va]
    nn = [k for k, ((a,), _) in enumerate(vals) if a is not None]
    out: list = [None] * len(vals)

    def vec(mats):
        a = mats[0]
        # r6: same contiguous-transpose reformulation as dot_product_kernel
        # (bit-identical left fold)
        sqT = np.ascontiguousarray((a * a).T)
        acc = np.zeros(a.shape[0], dtype=np.float64)
        for i in range(sqT.shape[0]):
            acc += sqT[i]
        return acc

    if nn:
        sub = _batch_fold([vals[k] for k in nn], vec)
        for k, v in zip(nn, sub):
            out[k] = None if v is None else float(np.sqrt(v))
    return pd.Series(out, index=va.index, dtype=object)


def cosine_similarity_fast(vec_a: Column, vec_b: Column) -> Column:
    """Drop-in for ``cosine_similarity`` with the folds replaced by the
    Arrow kernels; the division stays a JVM Column op so zero-norm
    behavior (ANSI DIVIDE_BY_ZERO) is identical to the spec expression."""
    return dot_product_kernel(vec_a, vec_b) / (
        l2_norm_kernel(vec_a) * l2_norm_kernel(vec_b))
