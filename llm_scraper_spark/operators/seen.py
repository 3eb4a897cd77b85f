"""The URL-seen set (SURVEY.md §2.2, D1/D2; reference cache.py:78-136).

Design for 10^10 URLs:

- State = a columnar ``seen`` table of 64-bit hashes (xxhash64 of the
  canonical URL), stored as per-wave Parquet deltas (``crawl/state.py``
  handles commits).
- Membership = **one exact anti-join** on the hash (``filter_unseen``),
  in one of two shapes picked by the caller from the seen:candidate
  ratio: a shuffled left-anti join, or (seen set far larger than the
  candidates) the reversed join that broadcasts the candidate hashes
  into a semi join over a narrow seen scan and broadcasts the matched
  set back. The broadcast candidate hashes are already an exact hash
  table probed by the seen scan, so the wave loop keeps no approximate
  pre-filter: a Bloom would only shrink the broadcast side, never skip
  the seen scan, and its tag is a second Python crossing per wave
  (``BENCH/BUCKETED_AB.md`` measured it slower at 10:1 to 400:1).
- ``ShardedBloom`` (hash-prefix shards, each shard's bit array built
  **executor-side** by ``build_bloom_distributed``) and ``bloom_tag``
  stay as standalone operators, as does the cuckoo filter
  (``operators/cuckoo.py``). ``filter_unseen(bloom=...)`` splits
  candidates on such a filter's verdict and sends only the maybe-seen
  rows through the same exact join; blooms of one geometry OR together.
- Spark's runtime bloom-filter join
  (spark.sql.optimizer.runtime.bloomFilter.enabled) adds an automatic
  layer inside the shuffled join itself.

The reference's check-then-insert (cache.py:88-92) maps to:
``new = candidates ANTI JOIN seen`` then ``seen += new`` — same semantics,
batch-atomic per wave instead of per URL.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

SHARD_TARGET_BITS = 1 << 27  # ~16 MiB of bits per shard bitmap


def mix64(h: np.ndarray, i: int) -> np.ndarray:
    """splitmix64 finalizer of uint64 hashes with a per-probe offset ``i``:
    the k Bloom bit positions are ``mix64(h, 0..k-1)``, and the cuckoo's
    fingerprint and buckets use their own offsets. The offset is reduced
    mod 2^64 in Python int space (same value as uint64 wraparound, without
    numpy's scalar-overflow RuntimeWarning)."""
    z = h + np.uint64((0x9E3779B97F4A7C15 * (i + 1)) & 0xFFFFFFFFFFFFFFFF)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _bit_positions(bits: np.ndarray, h: np.ndarray, i: int):
    """(word index, bit mask) of probe ``i`` of each uint64 hash in one
    shard's uint64 word array (``bits_per_shard`` is a multiple of 64,
    so ``len(bits) * 64`` is the shard's bit count)."""
    pos = mix64(h, i) % np.uint64(len(bits) * 64)
    return (pos >> np.uint64(6)).astype(np.int64), \
        np.uint64(1) << (pos & np.uint64(63))


def add_bits(bits: np.ndarray, h: np.ndarray, k: int) -> None:
    """Set the k probe bits of each uint64 hash in the shard ``bits``."""
    for i in range(k):
        np.bitwise_or.at(bits, *_bit_positions(bits, h, i))


def has_bits(bits: np.ndarray, h: np.ndarray, k: int) -> np.ndarray:
    """True where all k probe bits of a uint64 hash are set in the shard
    ``bits`` (maybe present), False where one is clear (definitely not)."""
    result = np.ones(len(h), dtype=bool)
    for i in range(k):
        word, mask = _bit_positions(bits, h, i)
        result &= (bits[word] & mask) != 0
    return result


def _geometry(capacity: int, fpp: float) -> tuple[int, int, int]:
    """(n_shards, bits_per_shard, k) for a target capacity/fpp; bits per
    shard is rounded up so total bits >= the classic -n*ln(p)/ln(2)^2."""
    capacity = max(capacity, 1)
    m = max(64, int(-capacity * math.log(fpp) / (math.log(2) ** 2)))
    n_shards = max(1, (m + SHARD_TARGET_BITS - 1) // SHARD_TARGET_BITS)
    bits_per_shard = ((m + n_shards - 1) // n_shards + 63) // 64 * 64
    k = max(1, int(round(n_shards * bits_per_shard / capacity * math.log(2))))
    return n_shards, bits_per_shard, k


def shard_of(hashes: np.ndarray, n_shards: int) -> np.ndarray:
    """Shard id of each int64 hash for the sharded filters: the signed
    floor-mod, which is Spark's ``pmod(hash, n_shards)`` that the
    distributed builds group by. An unsigned mod agrees with it only for
    power-of-two shard counts; elsewhere a negative hash would be probed
    in a shard it was never built into (a false negative)."""
    return np.mod(np.asarray(hashes).astype(np.int64, copy=False), n_shards)


class ShardedBloom:
    """Hash-prefix-sharded Bloom over int64 hashes.

    Shard routing is ``shard_of`` (pmod of the raw hash); bit positions
    within a shard are ``add_bits``/``has_bits`` over the splitmix64
    remix (``mix64``), so routing and probing consume independent bits.
    Two ShardedBlooms with the same geometry OR together, so a delta
    filter merges into a standing one without a rebuild.

    Scale note: total bitmap bytes = capacity * 1.2 bytes at fpp=1%
    (50M URLs -> ~60 MB broadcast; at the 10^10 design point you either
    raise fpp to ~5% (~7 GB, still one broadcast) or keep per-hash-range
    blooms alongside the hash-partitioned seen table and route candidate
    partitions to their range's bloom — the shard layout here is exactly
    that layout, minus the routing table).
    """

    __slots__ = ("n_shards", "bits_per_shard", "k", "shards", "capacity", "items")

    def __init__(self, capacity: int, fpp: float = 0.01,
                 geometry: tuple[int, int, int] | None = None):
        self.n_shards, self.bits_per_shard, self.k = \
            geometry or _geometry(capacity, fpp)
        self.capacity = max(capacity, 1)
        self.items = 0
        self.shards = [
            np.zeros(self.bits_per_shard // 64, dtype=np.uint64)
            for _ in range(self.n_shards)
        ]

    def geometry(self) -> tuple[int, int, int]:
        return (self.n_shards, self.bits_per_shard, self.k)

    def add_many(self, hashes: np.ndarray) -> None:
        h = hashes.astype(np.uint64, copy=False)
        sid = shard_of(hashes, self.n_shards)
        for s in np.unique(sid):
            add_bits(self.shards[int(s)], h[sid == s], self.k)
        self.items += len(h)

    def contains_many(self, hashes: np.ndarray) -> np.ndarray:
        h = hashes.astype(np.uint64, copy=False)
        sid = shard_of(hashes, self.n_shards)
        result = np.ones(len(h), dtype=bool)
        for s in np.unique(sid):
            mask = sid == s
            result[mask] = has_bits(self.shards[int(s)], h[mask], self.k)
        return result

    def or_(self, other: "ShardedBloom") -> None:
        """In-place union; requires identical geometry."""
        if self.geometry() != other.geometry():
            raise ValueError(
                f"bloom geometry mismatch: {self.geometry()} vs {other.geometry()}"
            )
        for mine, theirs in zip(self.shards, other.shards):
            np.bitwise_or(mine, theirs, out=mine)
        self.items += other.items

    def saturated(self, headroom: float = 0.8) -> bool:
        return self.items > self.capacity * headroom


def build_bloom_distributed(
    seen_df: DataFrame,
    hash_col: str = "url_hash",
    capacity: int | None = None,
    fpp: float = 0.01,
    geometry: tuple[int, int, int] | None = None,
) -> ShardedBloom:
    """Build a ShardedBloom fully executor-side.

    Plan: hashes -> groupBy(shard = pmod(hash, n_shards)) -> applyInPandas
    builds that shard's bit array in the reducer that owns it -> the only
    rows reaching the driver are the finished (shard_id, bitmap) pairs,
    i.e. exactly the bytes that must be broadcast anyway. No toPandas of
    the seen table at any size (the round-1 driver-side build collected up
    to 50M hashes; this replaces it per VERDICT #4).

    ``geometry`` overrides capacity sizing so delta blooms match a standing
    bloom's geometry and can be OR-merged (incremental updates).
    """
    if geometry is None and capacity is None:
        capacity = seen_df.count()
    bloom = ShardedBloom(capacity or 1, fpp, geometry)
    n_shards, bits_per_shard, k = bloom.geometry()

    hashes = seen_df.select(F.col(hash_col).alias("h"))
    sharded = hashes.withColumn(
        "shard", F.pmod(F.col("h"), F.lit(n_shards)).cast("int")
    )

    def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf["h"].to_numpy(dtype=np.int64).astype(np.uint64)
        bits = np.zeros(bits_per_shard // 64, dtype=np.uint64)
        add_bits(bits, h, k)
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "n": [len(h)],
             "bits": [bits.tobytes()]}
        )

    rows = (
        sharded.groupBy("shard")
        .applyInPandas(build_shard, schema="shard int, n long, bits binary")
        .collect()
    )
    total = 0
    for r in rows:
        arr = np.frombuffer(r["bits"], dtype=np.uint64)
        np.bitwise_or(bloom.shards[r["shard"]], arr, out=bloom.shards[r["shard"]])
        total += r["n"]
    bloom.items = total
    return bloom


def bloom_tag(candidates: DataFrame, bloom,
              hash_col: str = "url_hash",
              out_col: str = "_maybe_seen") -> DataFrame:
    """Attach the approximate-membership verdict as a boolean column —
    one vectorized probe of the broadcast filter per Arrow batch. Split
    out of filter_unseen so a caller can FUSE the tag into its own
    checkpoint (the tag then computes once, during that
    materialization, instead of once per consumer branch)."""
    bc = candidates.sparkSession.sparkContext.broadcast(bloom)

    @F.pandas_udf("boolean")
    def maybe_seen(h: pd.Series) -> pd.Series:
        arr = h.to_numpy(dtype=np.int64)
        return pd.Series(bc.value.contains_many(arr))

    return candidates.withColumn(out_col, maybe_seen(F.col(hash_col)))


def filter_unseen(
    candidates: DataFrame,
    seen_df: DataFrame | None,
    hash_col: str = "url_hash",
    bloom=None,
    broadcast_candidates: bool = False,
    checked_ck=None,
) -> DataFrame:
    """Return the candidate rows whose hash is not in the seen set.

    Plan shape: candidates ANTI JOIN seen on the hash, exact. ``bloom``
    is an optional pre-filter with ``contains_many`` (a ShardedBloom, or
    a ShardedCuckoo from operators/cuckoo.py): with one, the plan is
    definitely-new ∪ (maybe-seen ANTI JOIN seen), so the join sees only
    the maybe-seen rows. The crawl's wave loop passes none.

    The seen side is NOT de-duplicated before the join: anti-join results
    are invariant under build-side duplicates (a candidate is dropped iff
    ANY match exists), and the seen deltas are duplicate-free by the
    commit protocol anyway (a url_hash enters at most one delta ever —
    crawl/state.py module docs). A ``.distinct()`` here cost one full
    aggregation pass over the ENTIRE seen table per wave — at the 10^10
    design point that's re-shuffling the biggest table in the system
    every wave for zero semantic effect.

    ``broadcast_candidates=True`` REVERSES the join, with or without a
    pre-filter, so the seen table is never shuffled at all: broadcast
    the joined candidates' hashes, LEFT SEMI them against a narrow scan
    of seen (map-side, no exchange on the 10^10-row side), then
    broadcast the matched set back as a broadcast anti join. Correct
    whenever the candidates fit a broadcast — the wave loop gates it on
    the wave's discovered count, which it has from the wave Observation,
    and falls back to the shuffled anti join beyond the threshold.

    ``checked_ck``: optional materializer (the wave loop passes its
    tracked-localCheckpoint helper) for the anti-join's output, the only
    expensive sub-plan here. Pinning it makes the returned frame cheap to
    re-evaluate, so downstream seq assignment can skip ITS input
    materialization.
    """
    if seen_df is None:
        return candidates.drop("_maybe_seen")
    definitely_new, maybe = None, candidates
    if bloom is not None:
        # callers that already materialized the tag (bloom_tag fused into
        # their own checkpoint) are detected by the column's presence
        tagged = candidates if "_maybe_seen" in candidates.columns \
            else bloom_tag(candidates, bloom, hash_col)
        definitely_new = tagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
        maybe = tagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    seen_hashes = seen_df.select(F.col(hash_col))
    if broadcast_candidates:
        matched = seen_hashes.join(F.broadcast(maybe.select(F.col(hash_col))),
                                   on=hash_col, how="left_semi")
        checked = maybe.join(F.broadcast(matched), on=hash_col, how="left_anti")
    else:
        checked = maybe.join(seen_hashes, on=hash_col, how="left_anti")
    if checked_ck is not None:
        checked = checked_ck(checked)
    if definitely_new is None:
        return checked
    return definitely_new.unionByName(checked)


def first_occurrence_dedup(df: DataFrame, key_col: str, order_col: str) -> DataFrame:
    """In-batch order-preserving dedup (D3, worker.py:146,189:
    ``list(dict.fromkeys(urls))``): keep the min(order_col) row per key.

    Implemented as a partial-aggregable min-by (map-side combine) rather
    than a window, so the shuffle carries one row per key.
    """
    others = [c for c in df.columns if c != key_col]
    packed = df.select(
        F.col(key_col),
        F.struct(F.col(order_col).alias("_ord"), *[F.col(c) for c in others]).alias("_row"),
    )
    agg = packed.groupBy(key_col).agg(F.min_by("_row", F.col("_row._ord")).alias("_row"))
    return agg.select(F.col(key_col), *[F.col(f"_row.{c}").alias(c) for c in others])
