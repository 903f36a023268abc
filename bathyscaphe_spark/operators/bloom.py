"""Sharded Bloom filter over the URL-seen set.

The reference bounds seen-set memory by storing 64-bit FNV hashes instead
of URLs (scheduler.go:106-107, issue #130).  At 10^10-URL scale even the
hash set is ~80 GB — too big to broadcast whole.  The north-star design
maintains a **sharded Bloom filter** over the ``seen`` table as broadcast
executor-side state — built distributed once, then *incrementally folded*
each round with ``or_delta`` (O(Δ) per round; a full-table rebuild only
when the capacity doubles — amortized O(1) rescans):

* shard = ``url_hash % num_shards`` — only the shards a partition can
  touch need to be resident: :func:`bloom_anti_join` broadcasts the whole
  (small) filter, while :func:`bloom_anti_join_files` persists one file
  per shard and probe tasks load just the shards their rows hit (the
  broadcast-won't-fit path — a 10^10-URL filter is ~12 GB),
* k bit positions per key derive from the 64-bit FNV hash itself by
  double hashing — no re-hashing of the URL string,
* the filter is built distributed: each partition ORs its keys into a
  local bit array (numpy, vectorized) and ``treeReduce(bitwise_or)``
  combines them logarithmically.

Exactness: the Bloom filter is only a router.  Every candidate is probed
once; the exact anti-join matches only *maybe seen* rows (bit hits), so a
*definitely new* row (bit miss) is kept without a key comparison and no
row is ever falsely dropped.  One pass, not a union of a bit-miss and a
bit-hit branch: the two branches share no exchange, so Spark re-ran the
whole candidate plan once per branch (see :func:`_routed_anti_join`).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType


class ShardedBloom:
    def __init__(self, bits_per_shard: int, num_shards: int, num_hashes: int,
                 packed: np.ndarray):
        self.bits_per_shard = bits_per_shard
        self.num_shards = num_shards
        self.num_hashes = num_hashes
        self.packed = packed  # uint8, size num_shards * bits_per_shard / 8

    # -- bit math (vectorized, shared by build and probe) -------------------
    @staticmethod
    def _shard_pos(h_signed: np.ndarray, bits_per_shard: int, num_shards: int,
                   num_hashes: int) -> tuple[np.ndarray, np.ndarray]:
        """(shard ids (n,), within-shard bit indices (n, k))."""
        h = h_signed.astype(np.uint64)
        shard = (h % np.uint64(num_shards)).astype(np.int64)
        h1 = h >> np.uint64(1)
        # mix for the second hash (splitmix-style constant)
        h2 = (h * np.uint64(0x9E3779B97F4A7C15)) ^ (h >> np.uint64(31))
        h2 = h2 | np.uint64(1)  # odd
        i = np.arange(num_hashes, dtype=np.uint64)
        with np.errstate(over="ignore"):
            pos = (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(bits_per_shard)
        return shard, pos.astype(np.int64)

    @classmethod
    def _positions(cls, h_signed: np.ndarray, bits_per_shard: int,
                   num_shards: int, num_hashes: int) -> np.ndarray:
        """Global bit indices, shape (n, k)."""
        shard, pos = cls._shard_pos(h_signed, bits_per_shard, num_shards,
                                    num_hashes)
        return shard[:, None] * np.int64(bits_per_shard) + pos

    @staticmethod
    def sized_params(expected_items: int, fpp: float = 0.01,
                     num_shards: int = 8) -> tuple[int, int, int]:
        """(bits_per_shard, num_shards, num_hashes) for a target capacity.
        Deterministic — two filters sized for the same capacity are
        bit-compatible and can be OR-combined."""
        n = max(expected_items, 1)
        m_total = int(-n * math.log(fpp) / (math.log(2) ** 2))
        bits_per_shard = max(64, (m_total // num_shards + 63) // 64 * 64)
        k = max(1, round(bits_per_shard * num_shards / n * math.log(2)))
        return bits_per_shard, num_shards, min(k, 8)

    @classmethod
    def _packed_from(cls, df: DataFrame, col: str, bits_per_shard: int,
                     num_shards: int, num_hashes: int) -> np.ndarray:
        """Distributed bit-array build: each partition ORs its keys into a
        local array; ``treeReduce(bitwise_or)`` combines logarithmically.

        The keys reach Python as Arrow batches (``mapInArrow`` — one
        vectorized numpy pass per batch); the former ``rdd.mapPartitions``
        form pickled every key as a Row object one at a time (guide §4:
        the row path is the slow boundary).  Only the ONE packed array
        per partition crosses the RDD layer, so the treeReduce keeps its
        executor-side logarithmic combine — the property that bounds
        driver traffic when the filter is GBs at a 10^10-key seen set."""
        nbytes = num_shards * bits_per_shard // 8
        bps, ns, k = bits_per_shard, num_shards, num_hashes

        def _build_batches(batches):
            import pyarrow as pa

            arr = np.zeros(nbytes, dtype=np.uint8)
            for batch in batches:
                c = batch.column(0)
                if c.null_count:
                    c = c.drop_null()
                hashes = c.to_numpy(zero_copy_only=False).astype(np.int64)
                if hashes.size:
                    idx = cls._positions(hashes, bps, ns, k).ravel()
                    np.bitwise_or.at(
                        arr, idx >> 3, (1 << (idx & 7)).astype(np.uint8)
                    )
            yield pa.RecordBatch.from_arrays(
                [pa.array([arr.tobytes()], type=pa.binary())], ["b"]
            )

        parts = (
            df.select(col)
            .mapInArrow(_build_batches, "b binary")
            .rdd.map(lambda r: np.frombuffer(r[0], dtype=np.uint8))
        )
        if parts.isEmpty():
            # zero-partition input (an empty standing set is batch 0 of
            # every incremental consumer) — the all-zeros filter
            return np.zeros(nbytes, dtype=np.uint8)
        return parts.treeReduce(np.bitwise_or)

    @classmethod
    def build(cls, df: DataFrame, col: str, expected_items: int,
              fpp: float = 0.01, num_shards: int = 8) -> "ShardedBloom":
        """Distributed build from a hash column (long)."""
        bps, ns, k = cls.sized_params(expected_items, fpp, num_shards)
        return cls(bps, ns, k, cls._packed_from(df, col, bps, ns, k))

    def or_delta(self, df: DataFrame, col: str) -> "ShardedBloom":
        """Return a NEW filter = self ∪ the delta's keys (bloom insertion
        is a commutative OR, so incrementally folding each round's seen Δ
        is bit-identical to a from-scratch rebuild at the same capacity).
        The input array is copied, never mutated — a broadcast of the old
        filter stays valid."""
        delta = self._packed_from(
            df, col, self.bits_per_shard, self.num_shards, self.num_hashes
        )
        return ShardedBloom(
            self.bits_per_shard, self.num_shards, self.num_hashes,
            np.bitwise_or(self.packed, delta),
        )

    def might_contain_np(self, h_signed: np.ndarray) -> np.ndarray:
        if h_signed.size == 0:
            return np.zeros(0, dtype=bool)
        idx = self._positions(
            h_signed, self.bits_per_shard, self.num_shards, self.num_hashes
        )
        bits = (self.packed[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1
        return bits.all(axis=1)


def _routed_anti_join(
    cand: DataFrame, col: str, might_contain, keys: list[DataFrame]
) -> DataFrame:
    """Exact ``cand`` anti-join every key set in ``keys`` on ``col``,
    routed by a membership filter with false positives only.

    ``might_contain`` is a pandas UDF (long → boolean) probing the
    filter.  It runs ONCE per row, as a column, and each anti-join
    matches on ``col = key AND _maybe_seen``: a bit-miss row can never
    match, so it is kept without a key comparison, and a bit hit is kept
    iff the exact join finds no key.  Output identical to the plain
    anti-join (``x ∉ A ∪ B`` ⟺ ``x ∉ A ∧ x ∉ B`` for several key sets).

    One pass rather than the union of a bit-miss branch and a verified
    bit-hit branch: the union's branches shared no exchange (Catalyst
    pushed each branch's ``_maybe_seen`` filter below the caller's
    dedup aggregate), so the whole candidate plan, the crawl's Python
    URL-extraction kernel included, ran once per branch.  The trade-off:
    under a sort-merge join the bit-miss rows now travel through the
    join's shuffle as well, a narrow key shuffle instead of a second run
    of the input plan.
    """
    flagged = cand.withColumn("_maybe_seen", might_contain(F.col(col)))
    for k in keys:
        flagged = flagged.join(
            k.select(F.col(col).alias("_seen_key")),
            (F.col(col) == F.col("_seen_key")) & F.col("_maybe_seen"),
            "left_anti",
        )
    return flagged.drop("_maybe_seen")


def bloom_anti_join(
    cand: DataFrame,
    seen_keys: DataFrame,
    col: str,
    bloom: ShardedBloom,
    tail: DataFrame | None = None,
) -> DataFrame:
    """Exact anti-join accelerated by the Bloom router: only bit hits
    are compared with ``seen_keys`` (:func:`_routed_anti_join`).  Result
    set is identical to a plain anti-join.

    ``tail`` — optional second key set verified by its own anti-join
    (``x ∉ seen ∪ tail`` ⟺ ``x ∉ seen ∧ x ∉ tail``): the bucketed
    seen store's delta tail (state/seenstore.py).  Kept as a separate
    join rather than a union so the bucketed base's exchange-free scan
    survives (a union would erase its output partitioning).
    PRECONDITION: ``bloom`` must cover ``seen_keys ∪ tail`` — the
    driver's incrementally-folded filter does (every committed round's
    Δ is or_delta'd in before the next round that uses the filter).
    """
    b = cand.sparkSession.sparkContext.broadcast(bloom)

    @pandas_udf(BooleanType())
    def _might_contain(s: pd.Series) -> pd.Series:
        h = s.to_numpy(dtype=np.int64, na_value=0)
        return pd.Series(b.value.might_contain_np(h))

    keys = [seen_keys] if tail is None else [seen_keys, tail]
    return _routed_anti_join(cand, col, _might_contain, keys)


# -- shard-resident probing (the broadcast-won't-fit scale path) -----------
#
# At a 10^10-URL seen set the filter is ~12 GB at fpp 0.01 — too big to
# broadcast whole.  The sharded layout exists exactly for this: the filter
# is persisted one file per shard (an object-store prefix at real scale;
# the driver's state dir here), and each probe task loads ONLY the shards
# its rows touch, through a small per-executor LRU.  With candidates
# repartitioned by shard id (``colocate=True``) a task touches exactly one
# shard — per-executor residency is O(|filter| / num_shards), at 256
# shards ~47 MB — at the cost of one candidate shuffle; ``colocate=False``
# keeps candidates in place and lets the LRU bound residency instead.
# Outputs are identical to the broadcast router and to a plain anti-join.

_SHARD_CACHE: dict[tuple[str, int], np.ndarray] = {}
_SHARD_CACHE_CAP = 32


def _load_shard(dir_path: str, shard: int) -> np.ndarray:
    key = (dir_path, shard)
    arr = _SHARD_CACHE.get(key)
    if arr is None:
        import os

        arr = np.load(os.path.join(dir_path, f"shard_{shard}.npy"))
        if len(_SHARD_CACHE) >= _SHARD_CACHE_CAP:
            _SHARD_CACHE.pop(next(iter(_SHARD_CACHE)))
        _SHARD_CACHE[key] = arr
    return arr


def save_shards(bloom: ShardedBloom, dir_path: str) -> None:
    """Persist the filter one file per shard + a params sidecar."""
    import json
    import os

    os.makedirs(dir_path, exist_ok=True)
    bytes_per_shard = bloom.bits_per_shard // 8
    for s in range(bloom.num_shards):
        np.save(
            os.path.join(dir_path, f"shard_{s}.npy"),
            bloom.packed[s * bytes_per_shard:(s + 1) * bytes_per_shard],
        )
    with open(os.path.join(dir_path, "params.json"), "w") as fh:
        json.dump(
            {
                "bits_per_shard": bloom.bits_per_shard,
                "num_shards": bloom.num_shards,
                "num_hashes": bloom.num_hashes,
            },
            fh,
        )


def load_shards(dir_path: str) -> ShardedBloom:
    """Inverse of save_shards (driver-side convenience / tests)."""
    import json
    import os

    with open(os.path.join(dir_path, "params.json")) as fh:
        p = json.load(fh)
    packed = np.concatenate(
        [np.load(os.path.join(dir_path, f"shard_{s}.npy"))
         for s in range(p["num_shards"])]
    )
    return ShardedBloom(p["bits_per_shard"], p["num_shards"],
                        p["num_hashes"], packed)


def bloom_anti_join_files(
    cand: DataFrame,
    seen_keys: DataFrame,
    col: str,
    shard_dir: str,
    colocate: bool = True,
) -> DataFrame:
    """Exact anti-join through the FILE-RESIDENT sharded router.

    Same exactness contract as :func:`bloom_anti_join` — the filter only
    routes; every hit is re-verified by the exact anti-join — but no
    whole-filter broadcast: tasks read the shard files they need
    (``_load_shard`` LRU).  ``colocate=True`` repartitions candidates by
    shard id first so each task touches one shard.
    """
    import json
    import os

    with open(os.path.join(shard_dir, "params.json")) as fh:
        p = json.load(fh)
    bps, ns, k = p["bits_per_shard"], p["num_shards"], p["num_hashes"]

    if colocate:
        # shard id in SQL: pmod of the signed hash equals the kernel's
        # uint64 modulo whenever num_shards is a power of two (low-bit
        # equivalence); keep ns a power of two when colocating
        cand = cand.repartition(ns, F.pmod(F.col(col), F.lit(ns)))

    @pandas_udf(BooleanType())
    def _might_contain(s: pd.Series) -> pd.Series:
        h = s.to_numpy(dtype=np.int64, na_value=0)
        if h.size == 0:
            return pd.Series(np.zeros(0, dtype=bool))
        shard, pos = ShardedBloom._shard_pos(h, bps, ns, k)
        out = np.zeros(h.size, dtype=bool)
        for sh in np.unique(shard):
            m = shard == sh
            arr = _load_shard(shard_dir, int(sh))
            idx = pos[m]
            bits = (arr[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1
            out[m] = bits.all(axis=1)
        return pd.Series(out)

    return _routed_anti_join(cand, col, _might_contain, [seen_keys])
