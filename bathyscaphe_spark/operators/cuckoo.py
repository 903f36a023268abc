"""Cuckoo filter over the URL-seen set — the deletable alternative to
the sharded Bloom router (north rule: "bloom/cuckoo URL-seen").

Why cuckoo: seen entries carry a TTL (refresh-delay, D3).  A Bloom
filter must be rebuilt from scratch when entries expire; a cuckoo filter
supports DELETE, so the per-round broadcast state can be patched with
the round's expiries instead of rebuilt — at 10^10-URL scale that's the
difference between shipping a delta and rescanning the seen table.

Standard design (Fan et al., CoNLL'14 — public): buckets of 4
fingerprint slots, 16-bit fingerprints, partial-key cuckoo hashing —
``alt_bucket = bucket XOR hash(fingerprint)``.  All derived from the
64-bit FNV url_hash, no re-hashing of URLs.

Build is DISTRIBUTED: the hash space is split into ``num_shards``
(power of two) by the low bits of the hash; each shard is an
independent cuckoo table built executor-side (groupBy(shard) →
applyInPandas), and only the finished tables — a few MB total — come
back to the driver for broadcast.  Kicks never cross shards because a
hash's two candidate buckets live in its own shard's table.  Inserts
are VERIFIED: a shard whose table fills is rebuilt at doubled capacity
(false negatives would break the router's exactness contract —
might_contain must have false positives only).

Exactness contract: identical to the Bloom router — ``might_contain``
has false positives only, so a miss is kept without a key comparison
and only the maybe-seen rows are matched by the exact anti-join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from .bloom import _routed_anti_join

_SLOTS = 4
_FP_BITS = 16

# Δ-bound for the O(Δ) driver-side patch discipline: per-round expiry
# deltas are collected to the driver ONLY under this cap (5M hashes ×
# 8 B = 40 MB — comfortably a broadcast-sized transfer).  The bound is
# what makes "patch the broadcast filter with the round's expiries"
# legitimate at 10^10-URL scale: expiries per round are politeness-rate
# limited (a crawl that fetches ~k URLs/round can expire at most O(k)
# TTLs/round), so Δ stays crawl-throughput-sized, not corpus-sized.  A
# caller whose delta exceeds the cap is no longer in the incremental
# regime and must rebuild the filter distributed (``build``) instead —
# the guard raises rather than silently shipping an unbounded array.
DELETE_DELTA_CAP = 5_000_000


def collect_delete_delta(
    df: DataFrame, col: str, cap: int = DELETE_DELTA_CAP
) -> np.ndarray:
    """Collect a (distinct-hash) expiry delta for ``delete_many``,
    BOUNDED by construction: fetches at most ``cap + 1`` rows and
    raises if the cap is exceeded, so an unbounded delta can never
    materialize driver-side.  The distinct is ENFORCED here (not a
    docstring contract on the caller): a non-distinct frame would
    otherwise spuriously trip the Δ cap — or ship duplicate hashes to
    ``delete_many``, double-deleting fingerprints — even when the true
    distinct delta is far under the bound."""
    pdf = df.select(col).distinct().limit(cap + 1).toPandas()
    if len(pdf) > cap:
        raise ValueError(
            f"expiry delta exceeds the O(Δ) driver-patch bound ({cap} "
            "hashes): this round is outside the incremental regime — "
            "rebuild the cuckoo filter distributed via build() instead "
            "of patching"
        )
    return pdf[col].to_numpy(dtype=np.int64)
_MAX_KICKS = 500


class CuckooFilter:
    def __init__(self, capacity: int, bucket_shift: int = 0):
        n_buckets = 1
        while n_buckets * _SLOTS < capacity * 1.3:
            n_buckets <<= 1
        self.n_buckets = n_buckets
        # bits consumed by the shard router (ShardedCuckoo) — the bucket
        # index skips them so shard and bucket derivation stay independent
        self.bucket_shift = bucket_shift
        self.table = np.zeros((n_buckets, _SLOTS), dtype=np.uint16)
        self._rng = np.random.RandomState(42)  # deterministic kick choice

    # --- hash derivation (all from the 64-bit FNV hash) --------------------
    def _fp(self, h: np.ndarray) -> np.ndarray:
        fp = ((h >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
        return np.where(fp == 0, np.uint16(1), fp)  # 0 = empty slot marker

    def _b1(self, h: np.ndarray) -> np.ndarray:
        return (
            (h >> np.uint64(self.bucket_shift)) & np.uint64(self.n_buckets - 1)
        ).astype(np.int64)

    def _alt(self, bucket: np.ndarray, fp: np.ndarray) -> np.ndarray:
        # partial-key: alt = bucket XOR (fp * odd constant), masked
        with np.errstate(over="ignore"):
            mix = fp.astype(np.uint64) * np.uint64(0x5BD1E995)
        return (bucket.astype(np.uint64) ^ mix).astype(np.int64) & (self.n_buckets - 1)

    # --- mutation (driver-side over hash arrays) ----------------------------
    def insert_many(self, hashes: np.ndarray) -> int:
        """Insert signed-long hashes; returns number inserted (drops on
        table-full after MAX_KICKS — callers size capacity generously)."""
        h = hashes.astype(np.int64).view(np.uint64)
        fps = self._fp(h)
        b1s = self._b1(h)
        inserted = 0
        for fp, b in zip(fps, b1s):
            if self._insert_one(int(fp), int(b)):
                inserted += 1
        return inserted

    def _insert_one(self, fp: int, b: int) -> bool:
        for bucket in (b, int(self._alt(np.array([b]), np.array([fp], dtype=np.uint16))[0])):
            row = self.table[bucket]
            empty = np.where(row == 0)[0]
            if empty.size:
                row[empty[0]] = fp
                return True
        # kick loop
        cur_b, cur_fp = b, fp
        for _ in range(_MAX_KICKS):
            slot = int(self._rng.randint(_SLOTS))
            cur_fp, self.table[cur_b, slot] = int(self.table[cur_b, slot]), cur_fp
            cur_b = int(self._alt(np.array([cur_b]), np.array([cur_fp], dtype=np.uint16))[0])
            row = self.table[cur_b]
            empty = np.where(row == 0)[0]
            if empty.size:
                row[empty[0]] = cur_fp
                return True
        return False

    def delete_many(self, hashes: np.ndarray) -> int:
        """Remove entries (e.g. the round's TTL expiries).  Returns the
        number actually removed."""
        h = hashes.astype(np.int64).view(np.uint64)
        fps = self._fp(h)
        b1s = self._b1(h)
        alts = self._alt(b1s, fps)
        removed = 0
        for fp, b, a in zip(fps, b1s, alts):
            for bucket in (int(b), int(a)):
                row = self.table[bucket]
                hit = np.where(row == fp)[0]
                if hit.size:
                    row[hit[0]] = 0
                    removed += 1
                    break
        return removed

    # --- probing (vectorized, executor-side) --------------------------------
    def might_contain_np(self, hashes: np.ndarray) -> np.ndarray:
        if hashes.size == 0:
            return np.zeros(0, dtype=bool)
        h = hashes.astype(np.int64).view(np.uint64)
        fps = self._fp(h)
        b1s = self._b1(h)
        alts = self._alt(b1s, fps)
        in_b1 = (self.table[b1s] == fps[:, None]).any(axis=1)
        in_alt = (self.table[alts] == fps[:, None]).any(axis=1)
        return in_b1 | in_alt

    @classmethod
    def from_hashes(
        cls, hashes: np.ndarray, capacity: int, bucket_shift: int = 0
    ) -> "CuckooFilter":
        """Verified build from an in-memory hash array: if the table fills
        (stale capacity hint / unlucky kicks) it is rebuilt at doubled
        capacity — NEVER a silent drop, because a dropped insert is a
        false negative and breaks the router's exactness contract."""
        hashes = np.sort(np.unique(hashes.astype(np.int64)))  # deterministic
        cap = max(int(capacity), len(hashes), 1)
        for _ in range(8):
            cf = cls(cap, bucket_shift=bucket_shift)
            if cf.insert_many(hashes) == len(hashes):
                return cf
            cap *= 2
        raise RuntimeError(
            f"cuckoo build failed at capacity {cap} for {len(hashes)} hashes"
        )

    @classmethod
    def build(cls, df: DataFrame, col: str, capacity: int,
              num_shards: int = 16) -> "ShardedCuckoo":
        """Distributed build — see ShardedCuckoo.build."""
        return ShardedCuckoo.build(df, col, capacity, num_shards=num_shards)


class ShardedCuckoo:
    """num_shards independent cuckoo tables, one per low-bits hash range.

    Built executor-side (one applyInPandas group per shard); only the
    finished uint16 tables travel to the driver.  Probe/delete route by
    ``hash & (num_shards - 1)`` (two's-complement low bits — identical
    for signed and unsigned interpretations)."""

    def __init__(self, shards: list[CuckooFilter], num_shards: int):
        assert num_shards & (num_shards - 1) == 0
        self.shards = shards
        self.num_shards = num_shards
        self.shard_bits = num_shards.bit_length() - 1

    def _route(self, h_signed: np.ndarray) -> np.ndarray:
        return (h_signed.view(np.uint64) & np.uint64(self.num_shards - 1)).astype(
            np.int64
        )

    def might_contain_np(self, h_signed: np.ndarray) -> np.ndarray:
        if h_signed.size == 0:
            return np.zeros(0, dtype=bool)
        h = h_signed.astype(np.int64)
        out = np.zeros(len(h), dtype=bool)
        sid = self._route(h)
        for s in range(self.num_shards):
            mask = sid == s
            if mask.any():
                out[mask] = self.shards[s].might_contain_np(h[mask])
        return out

    def insert_many(self, h_signed: np.ndarray) -> int:
        h = h_signed.astype(np.int64)
        sid = self._route(h)
        return sum(
            int(self.shards[s].insert_many(h[sid == s]))
            for s in range(self.num_shards)
            if (sid == s).any()
        )

    def delete_many(self, h_signed: np.ndarray) -> int:
        h = h_signed.astype(np.int64)
        sid = self._route(h)
        return sum(
            int(self.shards[s].delete_many(h[sid == s]))
            for s in range(self.num_shards)
            if (sid == s).any()
        )

    @classmethod
    def build(cls, df: DataFrame, col: str, capacity: int,
              num_shards: int = 16) -> "ShardedCuckoo":
        """Distributed build from a hash column.  Nothing but the finished
        per-shard tables (uint16 bytes) is collected — the hash column
        itself never leaves the executors."""
        shard_bits = num_shards.bit_length() - 1
        per_cap = max(1024, capacity // num_shards)
        keyed = df.select(
            F.col(col).cast("long").alias("_h"),
            F.pmod(F.col(col).cast("long"), F.lit(num_shards)).alias("_shard"),
        )

        def _build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            shard = int(pdf["_shard"].iloc[0])
            cf = CuckooFilter.from_hashes(
                pdf["_h"].to_numpy(dtype=np.int64), per_cap,
                bucket_shift=shard_bits,
            )
            return pd.DataFrame(
                {
                    "shard": [shard],
                    "n_buckets": [cf.n_buckets],
                    "table": [cf.table.tobytes()],
                }
            )

        rows = (
            keyed.groupBy("_shard")
            .applyInPandas(_build_shard, "shard int, n_buckets long, table binary")
            .collect()
        )
        shards = [CuckooFilter(1, bucket_shift=shard_bits) for _ in range(num_shards)]
        for r in rows:
            cf = shards[r["shard"]]
            cf.n_buckets = int(r["n_buckets"])
            cf.table = np.frombuffer(r["table"], dtype=np.uint16).reshape(
                cf.n_buckets, _SLOTS
            ).copy()
        return cls(shards, num_shards)


def cuckoo_anti_join(
    cand: DataFrame, seen_keys: DataFrame, col: str, cf: CuckooFilter
) -> DataFrame:
    """Exact anti-join with the cuckoo router (same contract as
    bloom_anti_join: only filter hits are compared with ``seen_keys``,
    result identical)."""
    b = cand.sparkSession.sparkContext.broadcast(cf)

    @pandas_udf(BooleanType())
    def _might_contain(s: pd.Series) -> pd.Series:
        return pd.Series(b.value.might_contain_np(s.to_numpy(dtype=np.int64, na_value=0)))

    return _routed_anti_join(cand, col, _might_contain, [seen_keys])
