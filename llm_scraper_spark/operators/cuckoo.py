"""Cuckoo-filter URL-seen set — the bloom's sibling (SURVEY.md §2.2 D2).

The north rule names "bloom/cuckoo URL-seen"; ``seen.py`` ships the
sharded Bloom, which is the crawl's one seen filter (no crawl path
deletes from the seen set). This module is a standalone operator (the
``cuckoo_dedup`` query) with the same executor-side build discipline and
the two properties a Bloom cannot give:

- **Deletion.** TTL-expired URLs (``CrawlState.expire_results`` retention,
  reference cache.py:229-263) can be *retired from the filter* so a
  re-crawl pass sees them as new — a Bloom can only grow.
- **Bounded fingerprint storage.** 16-bit fingerprints in 4-slot buckets
  at load 0.65 cost ~24 bits/item for FPP ≈ 2·4/2^16 ≈ 0.012%; an
  equal-FPP Bloom needs ~19 bits/item but cannot delete. At the Bloom's
  1% FPP an 8-bit-fingerprint cuckoo needs only ~12 bits/item.

Semantics contract (same as the Bloom): ``contains_many`` returns
True = *maybe seen*, False = *definitely unseen* — NO false negatives,
ever. ``filter_unseen`` (seen.py) duck-types on ``contains_many``, so a
``ShardedCuckoo`` drops into the bloom-split + exact-anti-join plan
unchanged; exactness is restored by the anti-join either way.

No false negatives is guaranteed structurally: an insert whose
kick-random-walk fails lands in a per-shard *stash* that membership
always consults; a growing stash flips ``saturated()`` so the caller
rebuilds with fresh capacity (exactly the Bloom's saturation protocol).

Partial-key cuckoo hashing (Fan et al., CoNEXT'14, public): the alternate
bucket is ``b XOR H(fp)``, so any stored (bucket, fp) pair reconstructs
its other bucket — that makes two same-geometry filters mergeable by
re-inserting one side's fingerprints, the cuckoo analogue of the Bloom's
bitmap OR (an incremental delta update).

Everything is numpy-vectorized per Arrow batch: bulk placement sorts
items by target bucket and places by rank-within-group against current
occupancy; only the rare both-buckets-full stragglers take the per-item
kicking walk.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .seen import mix64, shard_of

_FP_MIX = 0x51  # probe offsets into the splitmix64 remix (seen.mix64)
_B1_MIX = 0x52
_ALT_MIX = 0x53

SLOTS = 4
MAX_KICKS = 500


def _next_pow2(n: int) -> int:
    return 1 << max(0, (n - 1).bit_length())


def _fingerprints(h: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprint per 64-bit hash (0 marks an empty slot)."""
    fp = (mix64(h, _FP_MIX) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1
    return fp


def _bucket1(h: np.ndarray, n_buckets: int) -> np.ndarray:
    return (mix64(h, _B1_MIX)
            & np.uint64(n_buckets - 1)).astype(np.int64)


def _alt_bucket(b: np.ndarray, fp: np.ndarray, n_buckets: int) -> np.ndarray:
    """Partial-key alternate: b XOR H(fp) — involutive, so it maps b1->b2
    AND b2->b1, which is what makes stored pairs re-insertable (merge)."""
    mix = mix64(fp.astype(np.uint64), _ALT_MIX)
    return (b.astype(np.int64)
            ^ (mix & np.uint64(n_buckets - 1)).astype(np.int64))


def _bulk_place(table: np.ndarray, occ: np.ndarray, b: np.ndarray,
                fp: np.ndarray) -> np.ndarray:
    """Vectorized placement of (bucket, fp) pairs into free slots.

    Buckets stay PACKED (nonzero fps occupy the low slots), so rank-within-
    group against current occupancy is a collision-free assignment. Returns
    the boolean mask of items that did NOT fit (their bucket filled up).
    """
    if len(b) == 0:
        return np.zeros(0, dtype=bool)
    order = np.argsort(b, kind="stable")
    bs = b[order]
    new_grp = np.empty(len(bs), dtype=bool)
    new_grp[0] = True
    new_grp[1:] = bs[1:] != bs[:-1]
    grp_start = np.flatnonzero(new_grp)
    grp_len = np.diff(np.append(grp_start, len(bs)))
    rank = np.arange(len(bs)) - np.repeat(grp_start, grp_len)
    slot = occ[bs] + rank
    fits = slot < SLOTS
    table[bs[fits], slot[fits]] = fp[order][fits]
    placed_b = bs[new_grp]
    placed_n = np.minimum(grp_len, np.maximum(SLOTS - occ[placed_b], 0))
    occ[placed_b] += placed_n.astype(occ.dtype)
    leftover = np.zeros(len(b), dtype=bool)
    leftover[order[~fits]] = True
    return leftover


class CuckooShard:
    """One shard: (n_buckets, SLOTS) uint16 table + overflow stash."""

    __slots__ = ("n_buckets", "table", "occ", "stash", "rng")

    def __init__(self, n_buckets: int, seed: int = 0):
        self.n_buckets = n_buckets
        self.table = np.zeros((n_buckets, SLOTS), dtype=np.uint16)
        self.occ = np.zeros(n_buckets, dtype=np.int64)
        # (valid_bucket, fp) pairs that lost their kick walk — the bucket
        # is kept because merge_from must re-insert the fp on its OWN
        # bucket orbit {b, b XOR H(fp)}; a bare fp would re-land on the
        # wrong orbit and the original hash's probe would miss it
        self.stash: list[tuple[int, int]] = []
        self.rng = np.random.RandomState(0xC0C00 + seed)

    # -- insert --------------------------------------------------------
    def insert_pairs(self, b1: np.ndarray, fp: np.ndarray) -> None:
        """Bulk-insert (first-bucket, fingerprint) pairs: vectorized pass
        on b1, vectorized pass on b2, per-item kicks for the stragglers."""
        left = _bulk_place(self.table, self.occ, b1, fp)
        if left.any():
            b2 = _alt_bucket(b1[left], fp[left], self.n_buckets)
            left2 = _bulk_place(self.table, self.occ, b2, fp[left])
            if left2.any():
                for bb, ff in zip(b2[left2], fp[left][left2]):
                    self._kick_insert(int(bb), int(ff))

    def _kick_insert(self, b: int, fp: int) -> None:
        for _ in range(MAX_KICKS):
            if self.occ[b] < SLOTS:
                self.table[b, self.occ[b]] = fp
                self.occ[b] += 1
                return
            s = int(self.rng.randint(SLOTS))
            fp, self.table[b, s] = int(self.table[b, s]), fp
            b = int(_alt_bucket(np.array([b]), np.array([fp], np.uint16),
                                self.n_buckets)[0])
        # the walk invariant keeps b valid for the carried fp at every
        # step, so (b, fp) is a faithful record; never drop the item —
        # the stash is what keeps contains_many free of false negatives
        self.stash.append((b, fp))

    # -- membership ------------------------------------------------------
    def contains(self, b1: np.ndarray, fp: np.ndarray) -> np.ndarray:
        b2 = _alt_bucket(b1, fp, self.n_buckets)
        hit = (self.table[b1] == fp[:, None]).any(axis=1)
        hit |= (self.table[b2] == fp[:, None]).any(axis=1)
        if self.stash:
            stash_fp = np.array([f for _, f in self.stash], dtype=np.uint16)
            hit |= np.isin(fp, stash_fp)
        return hit

    # -- delete ----------------------------------------------------------
    def delete_pairs(self, b1: np.ndarray, fp: np.ndarray) -> int:
        """Remove ONE stored occurrence per (b1, fp) pair; re-packs touched
        buckets so the packed-slots invariant survives. Returns #removed."""
        removed = 0
        touched: set[int] = set()
        for bb, ff in zip(b1, fp):
            for cand in (int(bb),
                         int(_alt_bucket(np.array([bb]),
                                         np.array([ff], np.uint16),
                                         self.n_buckets)[0])):
                slots = np.flatnonzero(self.table[cand] == ff)
                if len(slots):
                    self.table[cand, slots[0]] = 0
                    touched.add(cand)
                    removed += 1
                    break
            else:
                hit = next((p for p in self.stash if p[1] == int(ff)), None)
                if hit is not None:
                    self.stash.remove(hit)
                    removed += 1
        if touched:
            idx = np.fromiter(touched, dtype=np.int64)
            # descending sort packs nonzero fps into the low slots
            self.table[idx] = -np.sort(-self.table[idx].astype(np.int64),
                                       axis=1)
            self.occ[idx] = (self.table[idx] != 0).sum(axis=1)
        return removed

    def merge_from(self, other: "CuckooShard") -> None:
        nz = other.table != 0
        if nz.any():
            bucket_of = np.repeat(np.arange(other.n_buckets, dtype=np.int64),
                                  SLOTS).reshape(other.n_buckets, SLOTS)
            self.insert_pairs(bucket_of[nz], other.table[nz])
        for b, fp in other.stash:
            self._kick_insert(int(b), int(fp))  # b is a valid bucket for fp

    def to_bytes(self) -> bytes:
        stash = np.array(self.stash, dtype=np.int64).reshape(-1, 2)
        header = np.array([len(stash)], dtype=np.int64)
        return header.tobytes() + self.table.tobytes() + stash.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, n_buckets: int, seed: int = 0
                   ) -> "CuckooShard":
        shard = cls(n_buckets, seed)
        n_stash = int(np.frombuffer(data[:8], dtype=np.int64)[0])
        tbl_bytes = n_buckets * SLOTS * 2
        shard.table = (np.frombuffer(data[8:8 + tbl_bytes], dtype=np.uint16)
                       .reshape(n_buckets, SLOTS).copy())
        shard.occ = (shard.table != 0).sum(axis=1).astype(np.int64)
        if n_stash:
            pairs = np.frombuffer(
                data[8 + tbl_bytes:8 + tbl_bytes + 16 * n_stash],
                dtype=np.int64).reshape(-1, 2)
            shard.stash = [(int(b), int(f)) for b, f in pairs]
        return shard


class ShardedCuckoo:
    """Hash-prefix-sharded cuckoo filter over int64 hashes.

    Same sharding contract as ``ShardedBloom`` (``seen.shard_of``;
    in-shard probing consumes independent remix bits), same duck-typed
    ``contains_many`` consumed by ``seen.filter_unseen``, same saturation
    protocol as the crawl's standing Bloom — plus ``delete_many`` and a
    ``merge_`` that re-inserts a same-geometry delta's fingerprints.
    """

    __slots__ = ("n_shards", "n_buckets", "shards", "capacity", "items")

    # shard tables target ~1 MiB (128k buckets × 4 × 2B) so a shard build
    # fits comfortably in one reducer and the driver assembly is cheap
    SHARD_TARGET_BUCKETS = 1 << 17

    def __init__(self, capacity: int, load_factor: float = 0.65,
                 geometry: tuple[int, int] | None = None):
        self.capacity = max(capacity, 1)
        self.items = 0
        if geometry is not None:
            self.n_shards, self.n_buckets = geometry
        else:
            total_buckets = _next_pow2(
                max(16, int(self.capacity / (SLOTS * load_factor))))
            self.n_shards = max(
                1, total_buckets // self.SHARD_TARGET_BUCKETS)
            self.n_buckets = total_buckets // self.n_shards
        self.shards = [CuckooShard(self.n_buckets, seed=i)
                       for i in range(self.n_shards)]

    def geometry(self) -> tuple[int, int]:
        return (self.n_shards, self.n_buckets)

    def _split(self, hashes: np.ndarray):
        h = hashes.astype(np.uint64, copy=False)
        return (shard_of(hashes, self.n_shards), _bucket1(h, self.n_buckets),
                _fingerprints(h))

    def add_many(self, hashes: np.ndarray) -> None:
        sid, b1, fp = self._split(hashes)
        for s in np.unique(sid):
            m = sid == s
            self.shards[int(s)].insert_pairs(b1[m], fp[m])
        self.items += len(hashes)

    def contains_many(self, hashes: np.ndarray) -> np.ndarray:
        """True = maybe seen, False = definitely unseen (no false negatives)."""
        sid, b1, fp = self._split(hashes)
        out = np.zeros(len(hashes), dtype=bool)
        for s in np.unique(sid):
            m = sid == s
            out[m] = self.shards[int(s)].contains(b1[m], fp[m])
        return out

    def delete_many(self, hashes: np.ndarray) -> int:
        """Retire hashes (e.g. TTL-expired URLs ahead of a re-crawl).
        Returns the number of fingerprints actually removed."""
        sid, b1, fp = self._split(hashes)
        removed = 0
        for s in np.unique(sid):
            m = sid == s
            removed += self.shards[int(s)].delete_pairs(b1[m], fp[m])
        self.items = max(0, self.items - removed)
        return removed

    def merge_(self, other: "ShardedCuckoo") -> None:
        """Union with a same-geometry delta: re-insert its stored
        fingerprints shard-by-shard (the cuckoo analogue of bloom OR)."""
        if self.geometry() != other.geometry():
            raise ValueError(
                f"cuckoo geometry mismatch: {self.geometry()} "
                f"vs {other.geometry()}")
        for mine, theirs in zip(self.shards, other.shards):
            mine.merge_from(theirs)
        self.items += other.items

    def saturated(self, headroom: float = 0.8) -> bool:
        if self.items > self.capacity * headroom:
            return True
        # a growing stash means walks are failing: rebuild bigger
        return sum(len(s.stash) for s in self.shards) > 64 * self.n_shards


def build_cuckoo_distributed(
    seen_df: DataFrame,
    hash_col: str = "url_hash",
    capacity: int | None = None,
    geometry: tuple[int, int] | None = None,
) -> ShardedCuckoo:
    """Build a ShardedCuckoo fully executor-side (mirror of
    ``seen.build_bloom_distributed``): hashes -> groupBy(shard) ->
    applyInPandas builds that shard's bucket table in the reducer that
    owns it -> only finished (shard, table) blobs reach the driver —
    exactly the broadcast payload. ``geometry`` pins a standing filter's
    shape so a delta can ``merge_`` in.
    """
    if geometry is None:
        if capacity is None:
            capacity = seen_df.count()
        filt = ShardedCuckoo(capacity)
    else:
        filt = ShardedCuckoo(capacity or 1, geometry=geometry)
    n_shards, n_buckets = filt.geometry()

    hashes = seen_df.select(F.col(hash_col).alias("h"))
    sharded = hashes.withColumn(
        "shard", F.pmod(F.col("h"), F.lit(n_shards)).cast("int"))

    def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(pdf["shard"].iloc[0])
        h = pdf["h"].to_numpy(dtype=np.int64).astype(np.uint64)
        shard = CuckooShard(n_buckets, seed=sid)
        shard.insert_pairs(_bucket1(h, n_buckets), _fingerprints(h))
        return pd.DataFrame({"shard": [sid], "n": [len(h)],
                             "blob": [shard.to_bytes()]})

    rows = (
        sharded.groupBy("shard")
        .applyInPandas(build_shard, schema="shard int, n long, blob binary")
        .collect()
    )
    total = 0
    for r in rows:
        filt.shards[r["shard"]] = CuckooShard.from_bytes(
            bytes(r["blob"]), n_buckets, seed=r["shard"])
        total += r["n"]
    filt.items = total
    return filt
