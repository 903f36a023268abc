"""Deduplication operators for large-scale training-data pipelines.

The reference's dedup is the URL-seen hash set (D1/D2); a web-scale text
pipeline additionally needs content-level dedup.  All operators here are
DataFrame-native with vectorized (Arrow-batched) kernels:

* exact dedup            — hash-groupBy, one shuffle
* word n-gram shingling  — shared tokenizer for Jaccard/MinHash
* exact n-gram Jaccard   — pairwise within candidate groups
* MinHash + LSH          — shingle→FNV→k permutations→band buckets→
                           bucket join→exact verify; the scale path:
                           candidate generation never compares all pairs
* SimHash                — 48-bit sign-vote fingerprint, pure column
                           expressions (whole-stage codegen, no UDF)
* embedding near-dup     — cosine-threshold pairs (brute force baseline;
                           LSH-bucketed variant in operators/similarity.py)

Determinism: every hash/permutation constant is fixed; outputs are
identical at any parallelism.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.fnv import fnv1_64_np

# MinHash parameters (mirrored verbatim in the DuckDB oracles)
MINHASH_PERMS = 16
MINHASH_BANDS = 4  # 4 rows per band
# 2^31-1: small enough that (a*h+b) never overflows a uint64, so the
# DuckDB (hugeint) oracle and the numpy kernel agree bit-for-bit
MINHASH_P = (1 << 31) - 1
SHINGLE_K = 3  # word 3-grams


def perm_coeffs(num_perm: int = MINHASH_PERMS) -> tuple[list[int], list[int]]:
    """Deterministic permutation coefficients a_j (odd), b_j."""
    a = [2 * j + 1 for j in range(num_perm)]
    b = [(j * 0x9E3779B9 + 0x85EBCA6B) % MINHASH_P for j in range(num_perm)]
    return a, b


# --- exact dedup ----------------------------------------------------------

def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Canonical row per exact content group: (content_md5,
    canonical_id, n_dups).  One hash-shuffle; partial agg map-side."""
    return df.groupBy(F.md5(F.col(content_col)).alias("content_md5")).agg(
        F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_dups")
    )


# --- shingling ------------------------------------------------------------

_ASCII_WS = re.compile(r"\s+", re.ASCII)


def shingles_py(text: str, k: int = SHINGLE_K) -> list[str]:
    """Distinct word k-grams, order preserved (first occurrence).

    Tokenization is ASCII-whitespace split ([ \\t\\n\\r\\f\\v]+,
    exactly Java's ``\\s+``) — NOT ``str.split()``, whose Unicode
    whitespace (NBSP, thin space, …) would split 'a\\u00a0b' into two
    tokens while every JVM-side mirror and the DuckDB oracles keep it
    as one, flipping near-dup verdicts on non-ASCII corpora (NBSP is
    ubiquitous in web text via &nbsp;).  One-character caveat: RE2's
    ``\\s`` excludes vertical tab (\\x0B), so a document containing a
    raw \\v still tokenizes differently in a DuckDB oracle — no
    fixture and essentially no web text exercises it, and the engine
    keeps Python==Java consistency rather than special-casing it."""
    words = [w for w in _ASCII_WS.split(text) if w]
    if len(words) < k:
        return [" ".join(words)] if words else []
    seen: dict[str, None] = {}
    for i in range(len(words) - k + 1):
        seen.setdefault(" ".join(words[i : i + k]), None)
    return list(seen)


def with_shingles(df: DataFrame, text_col: str, k: int = SHINGLE_K) -> DataFrame:
    """text → array of distinct word k-grams (first-occurrence order),
    as an Arrow-batched kernel over :func:`shingles_py`.

    Deliberately NOT the Catalyst higher-order form
    ``array_distinct(transform(sequence(0, n-k), i -> concat_ws(slice(
    words, i+1, k))))``: higher-order functions are excluded from
    whole-stage codegen, so that expression evaluates interpreted per
    gram position and re-slices the word array each time — measured
    8.9s vs <0.2s for this kernel on 5k sf0.1 documents (the same
    reason the MinHash path shingles in Python,
    :func:`minhash_with_shingles`)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    @pandas_udf(ArrayType(StringType()))
    def _sh(texts: pd.Series) -> pd.Series:
        return pd.Series([shingles_py(t or "", k) for t in texts])

    return df.withColumn("shingles", _sh(F.col(text_col)))


# --- exact n-gram Jaccard -------------------------------------------------

def with_shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, k: int = SHINGLE_K,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *extra, sh_hashes array<long>) — distinct word-k-gram FNV
    hashes per doc, one vectorized mapInPandas stage.  Set comparisons
    downstream run on longs instead of strings (~10× cheaper
    intersects)."""
    schema_extra = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name in extra_cols
    )
    out_schema = f"{id_col} long{schema_extra}, sh_hashes array<long>"

    def _run(batches):
        for pdf in batches:
            sh_lists = [shingles_py(t or "", k) for t in pdf[text_col]]
            flat = [s for lst in sh_lists for s in lst]
            hashes: list[list[int]] = []
            if flat:
                h = fnv1_64_np(pd.Series(flat, dtype=object)).view(np.int64)
                i = 0
                for lst in sh_lists:
                    hashes.append(sorted(int(x) for x in h[i : i + len(lst)]))
                    i += len(lst)
            else:
                hashes = [[] for _ in sh_lists]
            out = {id_col: pdf[id_col]}
            for c in extra_cols:
                out[c] = pdf[c]
            out["sh_hashes"] = hashes
            yield pd.DataFrame(out)

    return df.mapInPandas(_run, schema=out_schema)


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float,
    group_col: str | None = None, k: int = SHINGLE_K,
    size_bucket_block: bool = False, strategy: str = "auto",
) -> DataFrame:
    """All-pairs exact Jaccard over word k-gram sets, optionally blocked
    by ``group_col`` (at scale: always block — e.g. by LSH bucket or
    near-dup partition key — never all-pairs the corpus).

    Two physical strategies, identical output:

    * ``"index"`` (default for threshold > 0): inverted-index equi-join
      — explode (id, shingle-hash), self-join on (block, hash), count
      shared hashes per (id_a, id_b).  Only pairs that actually share a
      shingle are ever materialized, and no shingle arrays travel
      through the join — the AllPairs/PPJoin family shape.  Join-key
      skew is a *common shingle's* document frequency, bounded by the
      block size.
    * ``"block"``: array-carrying block self-join with the size-ratio
      prune (J(a,b) ≤ min|a|,|b| / max|a|,|b| — exact, no false
      negatives) and optional ``size_bucket_block`` de-skewing:
      floor(log2(shingle-count)) refines the block key with ±1-bucket
      probing (output-identical for threshold ≥ 0.5).  Needed when
      threshold == 0 (zero-overlap pairs must appear).

    Output: (id_a, id_b, jaccard3) with id_a < id_b, jaccard rounded to
    3 decimals for cross-engine stability.
    """
    if strategy == "auto":
        strategy = "index" if threshold > 0 else "block"
    s = with_shingle_hashes(
        df, id_col, text_col, k, extra_cols=(group_col,) if group_col else ()
    ).select(
        F.col(id_col).alias("_id"),
        F.col("sh_hashes"),
        F.size("sh_hashes").alias("_n"),
        *([F.col(group_col).alias("_grp")] if group_col else []),
    )
    # Both sides of the self-join scan `s`; without a persist the
    # mapInPandas shingle stage runs TWICE (no exchange reuse across the
    # differing projections).  MEMORY_AND_DISK spills at scale instead
    # of recomputing the python stage.
    s = s.persist(StorageLevel.MEMORY_AND_DISK)
    union = F.col("n_a") + F.col("n_b") - F.col("_inter")
    jac3 = F.round(
        F.when(
            union > 0, F.col("_inter").cast("double") / union.cast("double")
        ).otherwise(F.lit(0.0)),
        3,
    )
    if strategy == "index":
        # array_distinct guards the collision edge (two shingles, one
        # hash) so _inter == size(array_intersect) bit-for-bit
        ex = s.select(
            "_id", "_n",
            *([F.col("_grp")] if group_col else []),
            F.explode(F.array_distinct("sh_hashes")).alias("_h"),
        )
        ia = ex.select(
            F.col("_id").alias("id_a"), F.col("_n").alias("n_a"),
            *([F.col("_grp")] if group_col else []), "_h",
        )
        ib = ex.select(
            F.col("_id").alias("id_b"), F.col("_n").alias("n_b"),
            *([F.col("_grp").alias("_grp_b")] if group_col else []),
            F.col("_h").alias("_h_b"),
        )
        on = (F.col("_h") == F.col("_h_b")) & (F.col("id_a") < F.col("id_b"))
        if group_col:
            on = on & (F.col("_grp") == F.col("_grp_b"))
        return (
            ia.join(ib, on)
            .groupBy("id_a", "id_b", "n_a", "n_b")
            .agg(F.count(F.lit(1)).alias("_inter"))
            .select("id_a", "id_b", jac3.alias("jaccard3"))
            .where(F.col("jaccard3") >= threshold)
        )
    bucket = None
    if size_bucket_block:
        if threshold < 0.5:
            raise ValueError("size_bucket_block requires threshold >= 0.5")
        # exact for powers of two (log2 is IEEE-exact there), so the
        # ±1-bucket guarantee from n_b < 2·n_a holds bit-for-bit
        bucket = F.floor(
            F.log2(F.greatest(F.col("_n"), F.lit(1)).cast("double"))
        ).cast("int")
        s = s.withColumn("_bkt", bucket)
    a = s.select(
        F.col("_id").alias("id_a"), F.col("sh_hashes").alias("sh_a"),
        F.col("_n").alias("n_a"),
        *([F.col("_grp")] if group_col else []),
        *([F.col("_bkt")] if size_bucket_block else []),
    )
    b = s.select(
        F.col("_id").alias("id_b"), F.col("sh_hashes").alias("sh_b"),
        F.col("_n").alias("n_b"),
        *([F.col("_grp").alias("_grp_b")] if group_col else []),
        *(
            [
                F.explode(
                    F.array(
                        F.col("_bkt") - 1, F.col("_bkt"), F.col("_bkt") + 1
                    )
                ).alias("_bkt_b")
            ]
            if size_bucket_block
            else []
        ),
    )
    size_ok = (
        (F.col("n_a").cast("double") >= F.col("n_b") * threshold)
        & (F.col("n_b").cast("double") >= F.col("n_a") * threshold)
    )
    cond = F.col("id_a") < F.col("id_b")
    if group_col:
        cond = (F.col("_grp") == F.col("_grp_b")) & cond
    if size_bucket_block:
        cond = (F.col("_bkt") == F.col("_bkt_b")) & cond
    if group_col or size_bucket_block:
        pairs = a.join(b, cond).where(size_ok)
    else:
        pairs = a.crossJoin(b).where(cond & size_ok)
    pairs = pairs.withColumn(
        "_inter", F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    )
    return (
        pairs.select("id_a", "id_b", jac3.alias("jaccard3"))
        .where(F.col("jaccard3") >= threshold)
    )


# --- MinHash + LSH --------------------------------------------------------

def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str,
    num_perm: int = MINHASH_PERMS, k: int = SHINGLE_K,
) -> DataFrame:
    """(id, sig: array<long>) — MinHash over FNV-1/64 shingle hashes.

    Kernel: per Arrow batch, all shingles hash in one vectorized FNV
    call; each permutation is one (a*h+b) % p pass + segmented min
    (``np.minimum.reduceat``) — no per-document python loops.
    """
    a_co, b_co = perm_coeffs(num_perm)
    a_np = np.array(a_co, dtype=np.uint64)
    b_np = np.array(b_co, dtype=np.uint64)
    p = np.uint64(MINHASH_P)

    out_schema = f"{id_col} long, sig array<long>"

    def _run(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            sh_lists = [shingles_py(t or "", k) for t in pdf[text_col]]
            counts = np.fromiter((len(s) for s in sh_lists), dtype=np.int64, count=len(sh_lists))
            flat = [s for lst in sh_lists for s in lst]
            sigs: list[list[int]] = []
            if flat:
                h = fnv1_64_np(pd.Series(flat, dtype=object)) % p
                starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
                nonempty = counts > 0
                sig_mat = np.full((len(ids), len(a_np)), MINHASH_P, dtype=np.int64)
                with np.errstate(over="ignore"):
                    for j in range(len(a_np)):
                        v = (a_np[j] * h + b_np[j]) % p
                        mins = np.minimum.reduceat(v, starts[nonempty]) if nonempty.any() else np.empty(0, np.uint64)
                        sig_mat[nonempty, j] = mins.astype(np.int64)
                sigs = sig_mat.tolist()
            else:
                sigs = [[MINHASH_P] * len(a_np) for _ in ids]
            yield pd.DataFrame({id_col: ids, "sig": sigs})

    return df.select(id_col, text_col).mapInPandas(_run, schema=out_schema)


def banded_signatures(
    sigs: DataFrame, id_col: str,
    num_perm: int = MINHASH_PERMS, bands: int = MINHASH_BANDS,
) -> DataFrame:
    """(id, band, band_hash): each signature exploded into its LSH band
    keys — the shuffle key both the self-join and the incremental
    probe-vs-index join meet on."""
    r = num_perm // bands
    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[
                F.xxhash64(*[F.col("sig")[i] for i in range(b * r, (b + 1) * r)])
                for b in range(bands)
            ])
        ).alias("band", "band_hash"),
    )


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str,
    num_perm: int = MINHASH_PERMS, bands: int = MINHASH_BANDS,
) -> DataFrame:
    """Band the signatures and self-join the band buckets:
    (id_a, id_b) candidate pairs (id_a < id_b, distinct).

    The shuffle key is (band, band_hash): only documents agreeing on a
    full band ever meet — this is the 10^10-scale path (no all-pairs).
    """
    banded = banded_signatures(sigs, id_col, num_perm, bands)
    x = banded.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    y = banded.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    return (
        x.join(y, ["band", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_with_shingles(
    df: DataFrame, id_col: str, text_col: str,
    num_perm: int = MINHASH_PERMS, k: int = SHINGLE_K,
) -> DataFrame:
    """(id, sig array<long>, sh_hashes array<long>) in ONE mapInPandas
    pass: shingle once, FNV once, derive both the MinHash signature
    (from h % p) and the sorted exact shingle-hash set (raw FNV) from
    the same hash array — r1 shingled every document twice
    (VERDICT r1: minhash_signatures + with_shingle_hashes)."""
    a_co, b_co = perm_coeffs(num_perm)
    a_np = np.array(a_co, dtype=np.uint64)
    b_np = np.array(b_co, dtype=np.uint64)
    p = np.uint64(MINHASH_P)
    out_schema = f"{id_col} long, sig array<long>, sh_hashes array<long>"

    def _run(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            sh_lists = [shingles_py(t or "", k) for t in pdf[text_col]]
            counts = np.fromiter(
                (len(s) for s in sh_lists), dtype=np.int64, count=len(sh_lists)
            )
            flat = [s for lst in sh_lists for s in lst]
            if flat:
                h_raw = fnv1_64_np(pd.Series(flat, dtype=object))
                h = h_raw % p
                starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
                nonempty = counts > 0
                sig_mat = np.full((len(ids), len(a_np)), MINHASH_P, dtype=np.int64)
                with np.errstate(over="ignore"):
                    for j in range(len(a_np)):
                        v = (a_np[j] * h + b_np[j]) % p
                        if nonempty.any():
                            sig_mat[nonempty, j] = np.minimum.reduceat(
                                v, starts[nonempty]
                            ).astype(np.int64)
                sigs = sig_mat.tolist()
                signed = h_raw.view(np.int64)
                sh_hashes = []
                i = 0
                for c in counts:
                    sh_hashes.append(sorted(int(x) for x in signed[i : i + c]))
                    i += c
            else:
                sigs = [[MINHASH_P] * len(a_np) for _ in ids]
                sh_hashes = [[] for _ in ids]
            yield pd.DataFrame({id_col: ids, "sig": sigs, "sh_hashes": sh_hashes})

    return df.select(id_col, text_col).mapInPandas(_run, schema=out_schema)


def minhash_dedup_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float,
    num_perm: int = MINHASH_PERMS, bands: int = MINHASH_BANDS,
    k: int = SHINGLE_K,
) -> DataFrame:
    """Full near-dup pipeline: MinHash → LSH buckets → candidate pairs →
    exact Jaccard verification ≥ threshold.

    Output (id_a, id_b, jaccard3).  Exactness: every emitted pair is
    exactly verified; LSH only bounds recall (tunable via bands/perms).
    One python pass over the corpus (sig + shingle set together),
    persisted so the band join and the two verification joins share it.
    """
    s = minhash_with_shingles(df, id_col, text_col, num_perm, k)
    return _verified_pairs(s, id_col, threshold, num_perm, bands)


def _verified_pairs(
    s: DataFrame, id_col: str, threshold: float, num_perm: int, bands: int
) -> DataFrame:
    """Shared tail of the near-dup pipelines: persist the
    (id, sig, sh_hashes) frame, band-join for candidates, then verify
    each pair with exact Jaccard over the shingle-hash sets.

    Zero-shingle documents are dropped before banding when
    ``threshold > 0``: every empty/short doc gets the same all-sentinel
    signature (both the k-permutation and OPH kernels), so they collide
    in EVERY band and the candidate self-join goes quadratic in the
    number of empty docs — the exact hot-key skew this engine optimizes
    against — even though exact-Jaccard verification (empty∪x ⇒ jac 0)
    would discard every such pair anyway.  At threshold 0 they are kept
    (an empty∩empty pair legitimately scores 0 ≥ 0)."""
    if threshold > 0:
        s = s.where(F.size("sh_hashes") > 0)
    # persist, deliberately NOT localCheckpoint: an r6 interleaved A/B
    # measured the eager checkpoint's extra materialization job at
    # ~+0.4 s per query vs the cache shared inside the single action
    # (persist 2.61/2.65 s vs checkpoint 3.02/3.14 s warm min on
    # dedup_oph_lsh); the session-lifetime CacheManager entry is the
    # accepted cost
    s = s.persist()
    cand = lsh_candidate_pairs(
        s.select(id_col, "sig"), id_col, num_perm, bands
    )
    sh = s.select(F.col(id_col).alias("_sid"), F.col("sh_hashes").alias("shingles"))
    pairs = (
        cand.join(sh.withColumnRenamed("_sid", "id_a").withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("_sid", "id_b").withColumnRenamed("shingles", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))
    return (
        pairs.select("id_a", "id_b", F.round(jac, 3).alias("jaccard3"))
        .where(F.col("jaccard3") >= threshold)
    )


# --- one-permutation hashing (OPH) MinHash --------------------------------

# Densification offset constant (any odd constant works; the rotation
# scheme only needs a deterministic tie-breaking shift per borrow
# distance — Shrivastava & Li, ICML'14 "Improved Densification of One
# Permutation Hashing", public).
_OPH_C = np.uint64(0x9E3779B97F4A7C15)  # 2^64 / φ, the Weyl constant


def oph_sig_np(h_raw: np.ndarray, counts: np.ndarray, num_bins: int) -> np.ndarray:
    """Vectorized OPH signatures: per document, ONE pass over its
    shingle hashes — bin = h % B, per-bin minimum of h — then rotation
    densification for empty bins (borrow the nearest non-empty bin to
    the right, circularly, + distance·C).  (ndocs, B) int64 matrix.

    Why this beats k-permutation MinHash at 100 TB: the classic kernel
    runs ``B`` multiply-mod passes over every shingle hash (O(B·n));
    OPH is O(n + ndocs·B) — one scatter-min plus a B-wide densify —
    with the same unbiased Jaccard estimator (Li, Owen, Zhang,
    NIPS'12; densification per Shrivastava & Li '14).
    """
    ndocs = len(counts)
    B = num_bins
    EMPTY = np.uint64(0xFFFFFFFFFFFFFFFF)
    mat = np.full((ndocs, B), EMPTY, dtype=np.uint64)
    if h_raw.size:
        doc_idx = np.repeat(np.arange(ndocs, dtype=np.int64), counts)
        bins = (h_raw % np.uint64(B)).astype(np.int64)
        # flat-index scatter-min: minimum.at over a 1-D index is ~10×
        # faster than the (row, col) tuple form (one fused C loop, no
        # per-element index tuple decode)
        np.minimum.at(mat.reshape(-1), doc_idx * B + bins, h_raw)
    # rotation densification, fully vectorized: an empty bin j borrows
    # from the nearest non-empty bin to its right (circularly, distance
    # d) with value + d·C.  The doubled-bin suffix-minimum trick finds
    # every borrow source in O(ndocs·B) flat numpy ops — no per-bin
    # python loop (the loop version cost 2B column passes, dominating
    # at B ≥ 64).
    with np.errstate(over="ignore"):
        filled2 = np.concatenate([mat, mat], axis=1) != EMPTY
        idx2 = np.where(filled2, np.arange(2 * B, dtype=np.int64), 2 * B + 1)
        nxt = np.minimum.accumulate(idx2[:, ::-1], axis=1)[:, ::-1][:, :B]
        has_src = nxt <= 2 * B  # all-empty docs keep the EMPTY sentinel
        src = np.where(has_src, nxt % B, 0)
        d = np.where(has_src, nxt - np.arange(B, dtype=np.int64), 0).astype(
            np.uint64
        )
        borrowed = np.take_along_axis(mat, src, axis=1) + d * _OPH_C
        mat = np.where(mat != EMPTY, mat, np.where(has_src, borrowed, mat))
    # documents with zero shingles keep EMPTY everywhere — normalize to
    # a fixed sentinel so empty docs hash identically
    return mat.view(np.int64)


def oph_with_shingles(
    df: DataFrame, id_col: str, text_col: str,
    num_bins: int = MINHASH_PERMS, k: int = SHINGLE_K,
) -> DataFrame:
    """(id, sig array<long>, sh_hashes array<long>) via the OPH kernel —
    the drop-in one-pass replacement for :func:`minhash_with_shingles`: same
    output contract (a ``num_bins``-long signature + the sorted exact
    shingle-hash set from the same FNV pass), so ``banded_signatures``
    and the exact-Jaccard verification joins compose unchanged."""
    out_schema = f"{id_col} long, sig array<long>, sh_hashes array<long>"

    def _run(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            sh_lists = [shingles_py(t or "", k) for t in pdf[text_col]]
            counts = np.fromiter(
                (len(s) for s in sh_lists), dtype=np.int64, count=len(sh_lists)
            )
            flat = [s for lst in sh_lists for s in lst]
            h_raw = (
                fnv1_64_np(pd.Series(flat, dtype=object))
                if flat
                else np.empty(0, dtype=np.uint64)
            )
            sig_mat = oph_sig_np(h_raw, counts, num_bins)
            signed = h_raw.view(np.int64)
            sh_hashes = []
            i = 0
            for c in counts:
                sh_hashes.append(sorted(int(x) for x in signed[i : i + c]))
                i += c
            yield pd.DataFrame(
                {id_col: ids, "sig": sig_mat.tolist(), "sh_hashes": sh_hashes}
            )

    return df.select(id_col, text_col).mapInPandas(_run, schema=out_schema)


def oph_dedup_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float,
    num_bins: int = MINHASH_PERMS, bands: int = MINHASH_BANDS,
    k: int = SHINGLE_K,
) -> DataFrame:
    """Near-dup pairs via OPH signatures: same LSH banding + exact
    Jaccard verification as :func:`minhash_dedup_pairs`
    (shared ``_verified_pairs`` tail), with the one-pass kernel
    supplying the signatures.  Output (id_a, id_b, jaccard3), every
    emitted pair exactly verified."""
    s = oph_with_shingles(df, id_col, text_col, num_bins, k)
    return _verified_pairs(s, id_col, threshold, num_bins, bands)


# --- winnowing fingerprints ----------------------------------------------

WINNOW_WINDOW = 4


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str,
    k: int = SHINGLE_K, window: int = WINNOW_WINDOW,
) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
    fingerprint): ORDERED word-k-gram FNV hashes (duplicates kept, unlike
    the shingle set); every sliding window of ``window`` consecutive
    hashes contributes its minimum; the distinct selected minima are the
    document's fingerprint set.  Guarantee: two documents sharing any
    run of ``window + k - 1`` words share at least one fingerprint —
    local plagiarism/quotation detection that whole-doc hashes miss.

    One vectorized mapInPandas stage (batch-wide FNV + numpy
    sliding-window min); output exploded as (id, fp) rows so cross-doc
    matches are a plain self-join on fp — at corpus scale the
    fingerprint table is the inverted index.
    """
    out_schema = f"{id_col} long, fp long"

    def _run(batches):
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            ids_out: list[int] = []
            fps_out: list[int] = []
            gram_lists = []
            for t in pdf[text_col]:
                # ASCII split, same contract as shingles_py (NBSP etc.
                # are token characters, matching the JVM/oracle \s+)
                words = [w for w in _ASCII_WS.split(t or "") if w]
                if not words:
                    gram_lists.append([])
                elif len(words) < k:
                    gram_lists.append([" ".join(words)])
                else:
                    gram_lists.append(
                        [" ".join(words[i:i + k])
                         for i in range(len(words) - k + 1)]
                    )
            flat = [g for lst in gram_lists for g in lst]
            if flat:
                h_all = fnv1_64_np(pd.Series(flat, dtype=object)).view(np.int64)
            i = 0
            for doc_id, lst in zip(pdf[id_col], gram_lists):
                n = len(lst)
                if n == 0:
                    continue
                h = h_all[i:i + n]
                i += n
                if n <= window:
                    sel = np.array([h.min()])
                else:
                    sel = np.unique(
                        sliding_window_view(h, window).min(axis=1)
                    )
                ids_out.extend([int(doc_id)] * len(sel))
                fps_out.extend(int(x) for x in sel)
            yield pd.DataFrame({id_col: ids_out, "fp": fps_out})

    return df.select(id_col, text_col).mapInPandas(_run, schema=out_schema)


# --- SimHash --------------------------------------------------------------

SIMHASH_BITS = 48


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash fingerprint in ONE vectorized mapInPandas stage: per
    Arrow batch, all words FNV-1/64-hash in one call (the engine-wide
    shared hash), ±1 bit votes form an (n_words × bits) matrix, and
    ``np.add.reduceat`` folds votes per document — words never leave
    the kernel (the r2.0 plan exploded every word through an Arrow
    round-trip into a 48-column aggregate).

    Docs with no words emit no row (explode semantics, kept bit-for-bit).

    Output: (id, simhash) with ``bits`` significant bits (≤ 62 so the
    fingerprint stays a positive long).
    """
    out_schema = f"{id_col} long, simhash long"
    weights = (np.int64(1) << np.arange(bits, dtype=np.int64))[None, :]

    def _run(batches):
        for pdf in batches:
            # ASCII split — same contract as shingles_py (NBSP etc. are
            # token characters, matching the JVM/oracle \s+)
            word_lists = [
                [w for w in _ASCII_WS.split(t or "") if w]
                for t in pdf[text_col]
            ]
            counts = np.fromiter(
                (len(w) for w in word_lists), dtype=np.int64, count=len(word_lists)
            )
            nonempty = counts > 0
            ids = pdf[id_col].to_numpy()[nonempty]
            if not len(ids):
                yield pd.DataFrame({id_col: ids, "simhash": ids})
                continue
            flat = [w for lst in word_lists for w in lst]
            h = fnv1_64_np(pd.Series(flat, dtype=object))
            # Per-bit 0/1 columns written into a preallocated uint8
            # matrix (one n_words temp per bit, never an (n_words × bits)
            # uint64 intermediate — the guest is bandwidth-bound and the
            # big broadcasted shift was the dominant cost).  Per-doc
            # one-counts fold with reduceat; bit b of the fingerprint is
            # set iff ones > n/2, i.e. 2·ones > word-count — identical to
            # the ±1 vote-sum sign.
            bitmat = np.empty((len(h), bits), dtype=np.uint8)
            for i in range(bits):
                np.bitwise_and(
                    h >> np.uint64(i), np.uint64(1),
                    out=bitmat[:, i], casting="unsafe",
                )
            starts = np.concatenate(([0], np.cumsum(counts)[:-1]))[nonempty]
            ones = np.add.reduceat(bitmat, starts, axis=0, dtype=np.int32)
            n_doc = counts[nonempty].astype(np.int64)[:, None]
            fp = (((2 * ones) > n_doc).astype(np.int64) * weights).sum(axis=1)
            yield pd.DataFrame({id_col: ids, "simhash": fp})

    return df.select(id_col, text_col).mapInPandas(_run, schema=out_schema)


def simhash_near_pairs(
    fps: DataFrame, id_col: str, max_hamming: int = 3, bits: int = SIMHASH_BITS,
    block_bits: int = 12,
) -> DataFrame:
    """Near-dup pairs by Hamming distance ≤ max_hamming.

    Scale path: block on 4 rotated ``block_bits`` prefixes (pigeonhole:
    any pair within distance 3 agrees on at least one of 4 disjoint
    12-bit blocks) → candidates meet only within blocks; exact popcount
    verify after.
    """
    n_blocks = max_hamming + 1
    blocked = fps.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("simhash"), i * block_bits)
                .bitwiseAND(F.lit((1 << block_bits) - 1))
                for i in range(n_blocks)
            ])
        ).alias("block", "block_key"),
    )
    a = blocked.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("h_a"), "block", "block_key")
    b = blocked.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("h_b"), "block", "block_key")
    cand = (
        a.join(b, ["block", "block_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return cand.select("id_a", "id_b", ham.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


# --- embedding near-dup ---------------------------------------------------

def embedding_near_dup_pairs(
    emb: DataFrame, id_col: str, vec_col: str, threshold: float,
    tile_rows: int = 65_536, max_tiles: int = 16,
) -> DataFrame:
    """Cosine-threshold pairs via TILED matrix multiplication: the
    corpus is split into deterministic hash tiles of ≤ ``tile_rows``
    vectors; one tile at a time is collected, L2-normalized, and
    broadcast, while the full corpus streams through ``mapInPandas``
    (one BLAS matmul per Arrow batch).  Per-tile outputs union into one
    plan.  Output (id_a, id_b, cos3), id_a < id_b.

    Driver memory is O(tile) — never O(corpus) (r1 collected the whole
    table, a driver OOM at scale; VERDICT r1 #5).  A pair is emitted by
    exactly one tile (the one holding its larger id), so the union is
    duplicate-free.

    ADMISSIBILITY BOUND: this is the recall-1 EXACT path, and its work
    is inherently O(n²) — n_tiles full-corpus scans, each a dense
    matmul.  It is admissible only up to ``max_tiles · tile_rows`` rows
    (default ~1M vectors: 16 corpus scans, each batch×64k BLAS — the
    verifier regime); beyond that the function raises rather than
    silently scheduling hundreds of sequential corpus scans.  At corpus
    scale use the sub-quadratic routes: the banded-LSH variant in
    operators/similarity.py (ann_lsh: recall < 1, no all-pairs) or
    :func:`semdedup_prune` (cell-confined pairs) — this exact path then
    serves as the opt-in per-bucket verifier, not the corpus pass.
    """
    spark = emb.sparkSession
    src = emb.select(id_col, vec_col)
    n = src.count()
    n_tiles = max(1, -(-n // tile_rows))
    if n_tiles > max_tiles:
        raise ValueError(
            f"exact embedding near-dup is bounded to max_tiles={max_tiles} "
            f"({max_tiles * tile_rows} rows); got {n} rows = {n_tiles} "
            "tiles, i.e. an O(n²) job of that many full-corpus scans. "
            "Use the LSH (operators/similarity.py) or SemDeDup "
            "(semdedup_prune) scale paths, or raise max_tiles explicitly "
            "if this many corpus scans is intended."
        )
    tile_of = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_tiles))

    outs = []
    for t in range(n_tiles):
        rows = src.where(tile_of == t).collect()
        if not rows:
            continue
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        mat = np.array([r[1] for r in rows], dtype=np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        b_ids = spark.sparkContext.broadcast(ids)
        b_mat = spark.sparkContext.broadcast(mat)

        def _run(batches, b_ids=b_ids, b_mat=b_mat):
            all_ids, all_m = b_ids.value, b_mat.value
            for pdf in batches:
                qi = pdf[id_col].to_numpy(dtype=np.int64)
                qm = np.array(list(pdf[vec_col]), dtype=np.float64)
                qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
                cos = np.round(qm @ all_m.T, 3)
                keep_q, keep_c = np.where(
                    (cos >= threshold) & (qi[:, None] < all_ids[None, :])
                )
                yield pd.DataFrame(
                    {
                        "id_a": qi[keep_q],
                        "id_b": all_ids[keep_c],
                        "cos3": cos[keep_q, keep_c],
                    }
                )

        outs.append(
            src.mapInPandas(_run, schema="id_a long, id_b long, cos3 double")
        )
    if not outs:
        return spark.createDataFrame([], "id_a long, id_b long, cos3 double")
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def semdedup_prune(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    threshold: float = 0.40,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public): cluster embeddings, then within each
    cluster prune every point that has an EARLIER (lower-id) point at
    cosine ≥ ``threshold`` — the upper-triangular max-similarity rule
    of the public reference implementation, made engine-deterministic
    by the id ordering and the 3-dp cosine round.  Unlike
    ``embedding_near_dup_pairs`` (exact pairs, quadratic) this is the
    CORPUS-SCALE pruning pass: the all-pairs work is confined within
    clusters — O(Σ c_i²), not O(n²) — and cluster size is controlled by
    ``n_cells`` (raise it as the corpus grows so cells stay bounded).

    Output ``(vec_id, cell, pruned)``, one row per input vector.

    Plan: one broadcast-centroid argmax assignment (map-side
    combinable, see similarity.ivf_assign), one self-join shuffled on
    ``cell`` for the within-cluster pairs, one distinct + left join to
    mark the pruned set.  Centroids default to the deterministic
    hash-picked sample; pass ``kmeans_fp_train``-derived centroids
    (similarity.centroids_from_fp) for tighter cells at real scale.
    """
    from .similarity import _dot, ivf_assign

    assigned = ivf_assign(emb, id_col, vec_col, n_cells, centroids)
    a = assigned.selectExpr("_id AS id_a", "v AS va", "nrm AS na", "cell")
    b = assigned.selectExpr("_id AS id_b", "v AS vb", "nrm AS nb", "cell")
    cos3 = F.round(
        _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 3
    )
    dup_ids = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where(cos3 >= F.lit(threshold))
        .select(F.col("id_b").alias("_id"))
        .distinct()
        .withColumn("pruned", F.lit(True))
    )
    return assigned.join(dup_ids, "_id", "left").select(
        F.col("_id").alias("vec_id"),
        "cell",
        F.coalesce("pruned", F.lit(False)).alias("pruned"),
    )


def line_dedup_clean(
    docs: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Line-level boilerplate dedup (the C4/RefinedWeb line-dedup pass):
    any exact line occurring in ≥ ``min_docs`` DISTINCT documents is
    boilerplate (footers, nav bars, cookie banners) and is stripped from
    EVERY document; surviving lines are reassembled in original order.

    Output: (id, clean_text, n_removed).

    Scale design: one ``posexplode`` (no data replication beyond the
    text itself), one line-keyed aggregation with map-side partial
    ``count(distinct doc)`` via a two-level groupBy, one broadcast-or-
    shuffled semi-join back, one per-doc reassembly aggregation.  Every
    step is a built-in operator — no UDFs, full codegen — and the line
    key is near-uniform (hash shuffle, no skew pathology: the most
    frequent line still groups to ONE row before the join).
    """
    lines = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    )
    # distinct (doc, line) first so the per-line count is a cheap COUNT(*)
    # with map-side combine, not a COUNT(DISTINCT) carrying doc ids
    boiler = (
        lines.select("_id", "_line")
        .distinct()
        .groupBy("_line")
        .agg(F.count(F.lit(1)).alias("_ndocs"))
        .where(F.col("_ndocs") >= min_docs)
        .select("_line")
    )
    kept = lines.join(boiler, "_line", "left_anti")
    total = lines.groupBy("_id").agg(F.count(F.lit(1)).alias("_nlines"))
    out = (
        kept.groupBy("_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_pos", "_line"))
                    ),
                    lambda s: s["_line"],
                ),
                "\n",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("_nkept"),
        )
        .join(total, "_id", "right")  # docs whose every line was removed
    )
    return out.select(
        F.col("_id").alias(id_col),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        (F.col("_nlines") - F.coalesce(F.col("_nkept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train/test decontamination: count, per corpus document, the
    distinct word ``k``-grams it shares with a benchmark/eval set (the
    n-gram-overlap contamination check used on large LM training sets).
    Output: (id, n_shared) for EVERY corpus doc — 0 means clean;
    filter ``n_shared > 0`` to quarantine.

    Scale design: benchmark suites are tiny next to a training corpus —
    the distinct benchmark gram set broadcasts, so the corpus side is
    one explode + one broadcast hash join + one per-doc aggregation
    (map-side combined), never an all-pairs comparison.  For an
    unusually large benchmark remove the hint and AQE shuffles both
    sides on the gram key.  Grams stay strings for oracle parity; at
    100 TB hash them first (xxhash64) to shrink the probe key.
    """
    cg = with_shingles(
        corpus.select(F.col(id_col).alias("_id"), F.col(text_col).alias("text")),
        "text",
        k,
    ).select("_id", F.explode("shingles").alias("gram"))
    bg = (
        with_shingles(
            benchmark.select(F.col(text_col).alias("text")), "text", k
        )
        .select(F.explode("shingles").alias("gram"))
        .distinct()
    )
    hits = (
        cg.join(F.broadcast(bg), "gram")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        corpus.select(F.col(id_col).alias("_id"))
        .join(hits, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
        )
    )


# --- exact-substring duplicate spans ---------------------------------------

EXACT_SUBSTR_K = 10  # tokens per gram (Lee et al. 2021 use 50 BPE tokens)


def duplicate_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = EXACT_SUBSTR_K
) -> DataFrame:
    """Verbatim cross-document duplicate SPANS: maximal token ranges
    covered by word k-grams that appear in more than one document — the
    exact-substring dedup pass of Lee et al. 2021 ("Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499),
    re-expressed relationally instead of via their suffix array.

    Returns (id, span_start, span_end, n_grams): token offsets
    [span_start, span_end) of each maximal duplicated region, built by
    merging overlapping duplicated-gram intervals [pos, pos+k).

    Plan (all JVM codegen, zero UDFs):
      1. posexplode the k-gram array → (id, pos, gram);
      2. one groupBy(gram) with map-side partial agg computing
         (count, min(id), max(id)) — CROSS-document duplication is just
         ``min(id) != max(id)``, no countDistinct shuffle needed;
      3. left-semi join positions against duplicated grams;
      4. per-document interval merge with two window passes over
         (id, pos): a gram starts a new span iff its pos exceeds the
         running max end of all earlier grams, span id = running sum of
         those flags — then one groupBy((id, span)).

    Scale: the gram explosion is ~n_tokens rows but collapses in step 2
    by map-side partial aggregation; the interval-merge windows
    partition by document (skew bounded by document length).  At
    10^10-doc scale, substitute a 64-bit gram hash for the gram string
    as the shuffle key; the contract keeps the raw string so the DuckDB
    oracle is byte-identical.
    """
    from pyspark.sql import Window

    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    # Gram construction via lead() windows, NOT per-position
    # slice/array_join lambdas: higher-order functions evaluate
    # interpreted (outside whole-stage codegen), measured 3.7s vs 1.5s
    # at sf0.1 for the same 273k grams.  One shuffle on id + one sort
    # per document, then k lead()s feed a single codegen concat_ws; the
    # _last guard keeps exactly positions 0..n_tokens-k (concat_ws
    # would silently skip nulls otherwise).
    toks = df.select(
        F.col(id_col).alias("id"), F.posexplode(words).alias("pos", "w")
    )
    w_lead = Window.partitionBy("id").orderBy("pos")
    gram = F.concat_ws(" ", *[F.lead("w", j).over(w_lead) for j in range(k)])
    grams = (
        toks.select(
            "id", "pos", gram.alias("gram"),
            F.lead("w", k - 1).over(w_lead).alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .drop("_last")
    )
    # cross-doc duplicate test: aggregated min/max-id pass + semi-join
    # back.  min/max partial-aggregate map-side, so a boilerplate gram
    # on every page folds before its exchange, and the semi-join
    # streams the probe rows (AQE skew-splittable) — a min/max window
    # over the gram partition would buffer + sort a hot gram's full
    # row set on one un-splittable task.  The checkpoint keeps the
    # lead()-window gram build (an id exchange + per-doc sort)
    # single-pass across both consumers.
    grams = grams.localCheckpoint(eager=False)
    dupg = (
        grams.groupBy("gram")
        .agg(F.min("id").alias("_mn"), F.max("id").alias("_mx"))
        .where(F.col("_mn") != F.col("_mx"))
    )
    # shuffle_hash: build on the aggregated dup-gram set; the full
    # gram rows stream through the probe side unsorted
    hits = grams.join(dupg.select("gram").hint("shuffle_hash"), "gram", "left_semi")
    w_order = Window.partitionBy("id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + k).over(
        w_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "new_span",
        (F.col("pos") > F.coalesce(prev_max_end, F.lit(-1))).cast("long"),
    ).withColumn(
        "span",
        F.sum("new_span").over(
            w_order.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        flagged.groupBy(F.col("id").alias(id_col), "span")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(id_col, "span_start", "span_end", "n_grams")
    )


def incremental_dedup_pairs(
    old_sigs: DataFrame, new_docs: DataFrame, id_col: str, text_col: str,
    threshold: float, num_perm: int = MINHASH_PERMS,
    bands: int = MINHASH_BANDS, k: int = SHINGLE_K,
) -> DataFrame:
    """Near-dup pairs for an INCREMENTAL ingest: newly arrived docs
    dedup against an existing corpus whose (id, sig, sh_hashes) table
    is already persisted — the production pattern where the old
    corpus's signatures are NEVER recomputed and old-vs-old pairs
    never form (the standing corpus is already deduped; re-pairing it
    would be O(corpus) wasted work every ingest).

    Candidates = (new ⋈ old on band keys) ∪ (new self-join); both
    shuffles key on (band, band_hash), never all-pairs.  Every
    candidate is exactly verified by shingle-set Jaccard, old shingles
    read from the persisted table.  Output (id_a, id_b, jaccard3,
    pair_kind) with id_a < id_b.

    Persisted-table compatibility: signatures are only comparable when
    old and new sides tokenized identically.  The tokenizer changed
    once (str.split → ASCII ``\\s+``, 2026-08; Unicode-whitespace docs
    hash differently since) — signature tables persisted before that
    must be regenerated, or an NBSP-bearing re-fetch silently misses
    its standing duplicate.  If the tokenizer ever changes again,
    stamp a version column into the signature table and refuse
    mixed-version joins instead of relying on this note.
    """
    # persist: the new-side kernel feeds the band probe, the self-join,
    # and the shingle lookup — without the cache the Arrow stage would
    # re-run once per reference (five subtrees)
    new_sigs = minhash_with_shingles(
        new_docs, id_col, text_col, num_perm, k
    )
    if threshold > 0:
        # zero-shingle docs share the all-sentinel signature: without
        # this filter every empty doc collides with every other empty
        # doc (old AND new sides) in every band — the same quadratic
        # skew guard as _verified_pairs; verification would reject all
        # such pairs anyway (empty∪x ⇒ jaccard 0 < threshold)
        new_sigs = new_sigs.where(F.size("sh_hashes") > 0)
        old_sigs = old_sigs.where(F.size("sh_hashes") > 0)
    # persist, not localCheckpoint — see _verified_pairs (the extra
    # checkpoint job measured slower than the shared-action cache)
    new_sigs = new_sigs.persist()
    banded_new = banded_signatures(new_sigs, id_col, num_perm, bands)
    banded_old = banded_signatures(old_sigs, id_col, num_perm, bands)
    cross = (
        banded_new.select(F.col(id_col).alias("_n"), "band", "band_hash")
        .join(
            banded_old.select(F.col(id_col).alias("_o"), "band", "band_hash"),
            ["band", "band_hash"],
        )
        .select(
            F.least("_n", "_o").alias("id_a"),
            F.greatest("_n", "_o").alias("id_b"),
        )
        .distinct()
        .withColumn("pair_kind", F.lit("new_old"))
    )
    within = lsh_candidate_pairs(
        new_sigs.select(id_col, "sig"), id_col, num_perm, bands
    ).withColumn("pair_kind", F.lit("new_new"))
    # disjoint by construction: a cross pair has exactly one old side,
    # a within pair has two new sides — no overlap to dedupe across
    cand = cross.unionByName(within)
    sh = (
        old_sigs.select(F.col(id_col).alias("_sid"), F.col("sh_hashes").alias("shingles"))
        .unionByName(
            new_sigs.select(
                F.col(id_col).alias("_sid"), F.col("sh_hashes").alias("shingles")
            )
        )
    )
    pairs = (
        cand.join(
            sh.withColumnRenamed("_sid", "id_a").withColumnRenamed("shingles", "sh_a"),
            "id_a",
        ).join(
            sh.withColumnRenamed("_sid", "id_b").withColumnRenamed("shingles", "sh_b"),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(0.0)
    )
    return (
        pairs.select(
            "id_a", "id_b", F.round(jac, 3).alias("jaccard3"), "pair_kind"
        )
        .where(F.col("jaccard3") >= threshold)
    )


def mirror_pairs(
    docs: DataFrame,
    host_col: str = "source",
    text_col: str = "text",
    n: int = 3,
    hot_cap: int = 10,
    min_permille: int = 100,
) -> DataFrame:
    """Host-level near-mirror detection: pairs of hosts whose DISTINCT
    word-``n``-gram shingle sets overlap by at least ``min_permille``
    of the smaller set (integer overlap coefficient — no floats, so
    the cut is bit-identical across engines).

    Mirror and template farms are a first-order corpus-inflation
    problem at crawl scale (the same site served from many hostnames);
    doc-level near-dup (MinHash/SimHash) finds the individual page
    copies, this finds the HOSTS so the frontier can collapse them.

    Scale shape: an inverted index — only host pairs sharing a shingle
    ever meet — with the hot-shingle cap (drop shingles present on
    more than ``hot_cap`` hosts, the standard df-cap of every
    inverted-index join here) applied MAP-SIDE before any full-row
    shingle exchange: an aggregated count pass finds the hot set
    (|hot| ≤ rows/hot_cap by construction, broadcastable), a broadcast
    anti-join drops boilerplate rows where they sit, and the surviving
    per-shingle host lists are ≤ ``hot_cap`` long, so the a<b pair
    expansion is a bounded in-array combination explode — never a
    shuffled self-join, never a corpus-sized aggregation buffer.

    Output: (host_a, host_b, shared, n_a, n_b, overlap_permille) with
    host_a < host_b, filtered to overlap_permille >= min_permille.
    """
    ts = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != "")
    sh = (
        docs.select(F.col(host_col).alias("host"), ts.alias("ts"))
        .where(F.size("ts") >= n)
        .select(
            "host",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - (n - 1)),
                    lambda i: F.concat_ws(
                        " ",
                        *[F.element_at("ts", i + F.lit(j)) for j in range(n)],
                    ),
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    # hot-cap discipline, skew-safe: the count groupBy partial-
    # aggregates map-side (a copyright-line shingle on 10^7 hosts
    # folds to one row per map partition, never one WindowExec
    # partition), the tiny hot set broadcasts, and the anti-join drops
    # boilerplate rows BEFORE the one full-row shingle exchange — so
    # every collect_list buffer is <= hot_cap hosts.  The checkpoint
    # shares the distinct (host, shingle) set across its two consumers
    # (hot count + anti-join) without a second explode+distinct pass.
    sh = sh.localCheckpoint(eager=False)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_nh"))
        .where(F.col("_nh") > hot_cap)
    )
    lists = (
        sh.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_list("host")).alias("hs"))
        .localCheckpoint(eager=False)  # two consumers (pairs + sizes)
    )
    sizes = (
        lists.select(F.explode("hs").alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    pairs = (
        lists.select(
            F.explode(
                F.expr(
                    "flatten(transform(hs, (x, i) -> "
                    "transform(slice(hs, i + 2, size(hs)), "
                    "y -> struct(x AS host_a, y AS host_b))))"
                )
            ).alias("p")
        )
        .select("p.host_a", "p.host_b")
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("host", "host_a")
                   .withColumnRenamed("n_sh", "n_a"), "host_a")
        .join(sizes.withColumnRenamed("host", "host_b")
              .withColumnRenamed("n_sh", "n_b"), "host_b")
        .select(
            "host_a", "host_b", "shared", "n_a", "n_b",
            F.expr("(1000 * shared) div least(n_a, n_b)").alias("overlap_permille"),
        )
        .where(F.col("overlap_permille") >= min_permille)
    )


def exact_substr_clean(
    docs: DataFrame,
    min_len: int = 40,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr deduplication (Lee et al. 2022, arXiv:2107.06499 —
    public): every substring of length ≥ ``min_len`` chars that occurs
    ≥ ``min_count`` times anywhere in the corpus — across documents OR
    repeated inside one — is removed from EVERY occurrence; the
    surviving segments are reassembled in original order.

    Exact at gram granularity, no suffix array needed: a duplicated
    substring of length M ≥ L is the union of its M−L+1 duplicated
    L-grams, and every duplicated L-gram is itself a duplicated
    length-L substring — so the union of duplicated-L-gram cover spans
    IS the union of all duplicated substrings of length ≥ L.  The
    published implementation builds a single-node suffix array; one
    distributed L-gram count replaces it.

    Output: (id, clean_text, n_dup_spans, covered_chars) — one row per
    input document (short/clean docs pass through, fully-covered docs
    yield '').

    Scale design: positions come from ``sequence``+``explode`` (pure
    JVM, no UDF); each gram is reduced to an 8-byte ``xxhash64`` key
    BEFORE the shuffle so the text never ships (collision odds are
    ~n²/2⁶⁵ — negligible here and swap in a 128-bit hash at corpus
    scale; the oracle groups on the gram itself, so the hash identity
    is itself under test); the occurrence count is a
    map-side-combinable COUNT(*) and the duplicated-hash set returns
    via one semi-join; span merge is one per-doc window over hit
    positions (for fixed L the span end is monotone in pos, so a
    single lag detects islands); reassembly joins the doc text back
    once by id.  Total shuffle is O(total_chars × ~20 bytes) — the
    same order as the suffix-array construction, but partitioned.
    """
    from pyspark.sql.window import Window

    L = int(min_len)
    d = docs.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_text"),
        F.length(text_col).cast("int").alias("_n"),
    )
    grams = (
        d.where(F.col("_n") >= L)
        .select(
            "_id",
            "_text",
            F.explode(F.sequence(F.lit(1), F.col("_n") - L + 1)).alias("_pos"),
        )
        .select(
            "_id",
            "_pos",
            F.xxhash64(F.expr(f"substring(_text, _pos, {L})")).alias("_h"),
        )
    )
    # duplicated-gram hits: aggregated count pass + semi-join back.
    # The count groupBy partial-aggregates map-side (a boilerplate gram
    # repeated 10^8 times folds to one row per map partition) and the
    # semi-join STREAMS the probe side, so AQE can skew-split a hot
    # hash.  A count window over the hash partition would shuffle the
    # same rows once instead of twice, but WindowExec buffers + sorts
    # each hash's FULL row set on one task (un-splittable) — a single
    # corpus-wide boilerplate substring becomes one straggler partition
    # that can exhaust local disk.  The lazy localCheckpoint keeps the
    # gram build single-pass across the two consumers.
    grams = grams.localCheckpoint(eager=False)
    dup = (
        grams.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= int(min_count))
    )
    # shuffle_hash: build on the aggregated dup set, so the
    # corpus-sized probe side streams unsorted (SMJ would sort it)
    hits = grams.join(
        dup.select("_h").hint("shuffle_hash"), "_h", "left_semi"
    ).select("_id", "_pos")

    w = Window.partitionBy("_id").orderBy("_pos")
    spans = (
        hits.withColumn(
            "_new",
            F.when(
                F.col("_pos")
                > F.coalesce(F.lag("_pos").over(w), F.lit(-(1 << 30))) + L,
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("_isl", F.sum("_new").over(w))
        .groupBy("_id", "_isl")
        .agg(F.min("_pos").alias("_s"), (F.max("_pos") + L - 1).alias("_e"))
    )
    stats = spans.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_nsp"),
        F.sum(F.col("_e") - F.col("_s") + 1).alias("_cov"),
    )
    # one sentinel span past end-of-text per affected doc: every kept
    # segment is then "the gap before a span" — no tail special case
    sent = stats.join(d.select("_id", "_n"), "_id").select(
        "_id", (F.col("_n") + 1).alias("_s"), F.col("_n").alias("_e")
    )
    w2 = Window.partitionBy("_id").orderBy("_s")
    gaps = (
        spans.select("_id", "_s", "_e")
        .unionByName(sent)
        .withColumn("_gs", F.coalesce(F.lag("_e").over(w2), F.lit(0)) + 1)
        .withColumn("_ge", F.col("_s") - 1)
        .where(F.col("_ge") >= F.col("_gs"))
    )
    agg = (
        gaps.join(d.select("_id", "_text"), "_id")
        .select(
            "_id",
            "_s",
            F.expr("substring(_text, _gs, _ge - _gs + 1)").alias("_piece"),
        )
        .groupBy("_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_s", "_piece"))),
                    lambda s: s["_piece"],
                ),
                "",
            ).alias("_clean")
        )
    )
    return (
        d.join(stats, "_id", "left")
        .join(agg, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(
                F.col("_clean"),
                F.when(F.col("_nsp").isNull(), F.col("_text")).otherwise(
                    F.lit("")
                ),
            ).alias("clean_text"),
            F.coalesce(F.col("_nsp"), F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce(F.col("_cov"), F.lit(0)).cast("long").alias("covered_chars"),
        )
    )


def canonical_pick(
    members: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-weighted canonical selection: per duplicate cluster keep
    the member with the HIGHEST score (ties → lowest id) — the "keep
    the best copy" rule production dedup applies (keep-longest /
    keep-highest-quality) instead of keep-min-id, so deduplication
    never throws away the cleanest capture of a page.

    Input: ``members`` (id, cluster_id) — e.g. connected components of
    verified near-dup pairs — and ``scores`` (id, score).

    Output: (id, cluster_id, score, keep).

    Plan: one id-keyed join to attach scores, one cluster-keyed
    ``max(struct(score, −id))`` argmax (map-side combinable — no
    window, no per-cluster sort), one cluster-keyed join back.  Skew
    bound is the largest duplicate cluster, same as the component
    computation that produced ``members``.
    """
    j = members.join(scores, id_col)
    # type-generic argmax (document ids are urls/digests in production):
    # max score per cluster, then MIN id among the top scorers — two
    # map-combinable aggs, no id arithmetic
    mx = j.groupBy(cluster_col).agg(F.max(score_col).alias("_mx"))
    best = (
        j.join(mx, cluster_col)
        .where(F.col(score_col) == F.col("_mx"))
        .groupBy(cluster_col)
        .agg(F.min(id_col).alias("_bid"))
    )
    return j.join(best, cluster_col).select(
        id_col,
        cluster_col,
        score_col,
        (F.col(id_col) == F.col("_bid")).alias("keep"),
    )


def paragraph_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct non-blank paragraphs of a corpus batch as
    (par_hash:long) — the unit the BFF standing filter is built over
    (``ShardedBloom.build`` / ``or_delta`` on this column)."""
    from ..functions.fnv import fnv1_64

    return (
        docs.select(
            F.explode(F.split(F.col(text_col), "\n")).alias("_par")
        )
        .where(F.trim(F.col("_par")) != "")
        .select(fnv1_64(F.col("_par")).alias("par_hash"))
        .distinct()
    )


def bff_paragraph_dedup(
    new_docs: DataFrame,
    seen_pars: DataFrame,
    bloom=None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dolma-style BFF paragraph dedup (Soldaini et al. 2024,
    arXiv:2402.00159 §2.3; github.com/allenai/bff — public): an
    INCREMENTAL cross-batch paragraph dedup pass.  A standing filter
    remembers every paragraph of the corpus so far; a new batch drops
    (a) paragraphs already in the standing set and (b) repeat
    occurrences within the batch, keeping the FIRST occurrence by
    (doc_id, position) — Dolma's stream order made deterministic for a
    batch engine.  Blank / whitespace-only paragraphs are layout, not
    content: always kept, never probed or inserted.

    ``seen_pars`` is the standing (par_hash) table; ``bloom`` an
    optional ShardedBloom over it (built once, ``or_delta``-folded with
    ``paragraph_table(batch)`` after each batch — O(Δ) filter
    maintenance, the same discipline as the URL-seen router).  With the
    router, provably-fresh paragraphs (bit miss) are kept without a
    key comparison; bit hits are re-verified by the exact anti-join
    (one join over one probe column), so the output equals the plain
    anti-join
    bit-for-bit (the d1_bloom exactness contract).  A production run
    at Dolma's scale may skip re-verification and accept the filter's
    fpp — that trade is the caller's, not baked in.

    Keys are FNV-1/64 paragraph hashes (64-bit collisions would merge
    two distinct paragraphs; negligible and absent in the fixtures).

    Output: (id, clean_text, n_removed) — same shape as
    ``line_dedup_clean``, which handles the complementary
    WITHIN-corpus boilerplate rule (≥k docs ⇒ strip everywhere,
    first included).

    Scale design: one posexplode, one broadcast-bloom probe (Arrow
    batch), one anti-join that compares only bit-hit rows, one
    window over par_hash for first-wins (near-uniform key — the
    hottest paragraph still groups to one partition's row stream),
    one per-doc reassembly agg.  Nothing quadratic, no driver state.
    """
    from pyspark.sql import Window

    from ..functions.fnv import fnv1_64
    from .bloom import bloom_anti_join

    pars = new_docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_par"),
    )
    blank = pars.where(F.trim(F.col("_par")) == "")
    nonblank = pars.where(F.trim(F.col("_par")) != "").withColumn(
        "par_hash", fnv1_64(F.col("_par"))
    )
    seen_keys = seen_pars.select("par_hash")
    if bloom is not None:
        fresh = bloom_anti_join(nonblank, seen_keys, "par_hash", bloom)
    else:
        fresh = nonblank.join(seen_keys, "par_hash", "left_anti")
    w = Window.partitionBy("par_hash").orderBy("_id", "_pos")
    first = (
        fresh.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("_id", "_pos", "_par")
    )
    kept = first.unionByName(blank)
    total = pars.groupBy("_id").agg(F.count(F.lit(1)).alias("_npars"))
    out = (
        kept.groupBy("_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_par"))),
                    lambda s: s["_par"],
                ),
                "\n",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("_nkept"),
        )
        .join(total, "_id", "right")
    )
    return out.select(
        F.col("_id").alias(id_col),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        (F.col("_npars") - F.coalesce(F.col("_nkept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )
