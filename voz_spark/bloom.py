"""Partitioned persistent bloom filter over the URL-seen set
(SURVEY §2.B B3; reference analogue: cache-file-exists checks at
src/thread_crawler.py:46-59 and src/image_processor.py:63-70).

Layout: the 64-bit hash space is split into ``n_shards`` shards by
``pmod(url_hash, n_shards)``; each shard is one ``nbits``-bit numpy
bitmap persisted as a binary blob row in the ``seen_bloom`` table.

Design point at 10^10 seen URLs: 4096 shards × 2^27 bits ≈ 64 GiB
total — never broadcast whole. Membership testing is shard-ALIGNED:
candidates are grouped by shard_id and each group only touches its
own blob (``applyInPandas``), which on a cluster co-locates with a
``repartition(n_shards, shard_id)``. In this sandbox the blobs are
small enough that a broadcast map is used for the scalar-UDF fast
path as well.

The engine's seen filter is a bloom BASE of these blobs OR an exact
DELTA: the sorted url_hash values (8 B/row) of the seen rows committed
since the base was last written (``in_sorted``). The base is rewritten
only when the delta is folded into it (rounds.CrawlEngine: when the
delta outgrows its share of cfg.bloom_broadcast_max_bytes), so a
round's filter upkeep is O(new rows), not O(state) — the per-window
segments merged in bulk of segmented sliding-window filters
(PAPERS.md). A base that a replaced seen table or a changed layout
makes untrustworthy is dropped, not rebuilt: the filter starts again
from an empty base, with all of seen as the delta, like a new segment.

This is the engine's only URL-seen filter. A cuckoo filter (deletable,
lower FPR) tied it on membership probes but made crawl rounds ~33%
slower in a same-box A/B, all in its per-round state update; the one
consumer of deletion, ``CrawlEngine.reopen``, resets the base to
empty instead.

Correctness contract (SURVEY §5.2 item 4): NO false negatives ever —
rows neither the base nor the delta may contain skip the exact
anti-join; "maybe seen"
rows always go through the exact anti-join on (url_hash, canon_url),
so false positives cannot drop URLs.

Bits for a key: double hashing h_i = h1 + i*h2 (Kirsch-Mitzenmacher),
h2 forced odd; everything uint64 numpy, vectorized per Arrow batch.
"""

from __future__ import annotations

import numpy as np


def _mix_u64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized on uint64."""
    with np.errstate(over="ignore"):
        z = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
        z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
        z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
        return (z ^ (z >> np.uint64(31))).astype(np.uint64)


def bit_positions(hashes: np.ndarray, nbits: int, k: int) -> np.ndarray:
    """(n, k) array of bit positions for each 64-bit key."""
    h1 = hashes.astype(np.uint64)
    h2 = (_mix_u64(h1) | np.uint64(1)).astype(np.uint64)
    i = np.arange(k, dtype=np.uint64)[None, :]
    with np.errstate(over="ignore"):
        pos = (h1[:, None] + i * h2[:, None]) % np.uint64(nbits)
    return pos


def empty_shard(nbits: int) -> np.ndarray:
    return np.zeros(nbits // 8, dtype=np.uint8)


def add_hashes(bits: np.ndarray, hashes: np.ndarray, nbits: int, k: int) -> np.ndarray:
    """Set the k bits of each hash; returns the updated bitmap."""
    if len(hashes) == 0:
        return bits
    pos = bit_positions(hashes, nbits, k).ravel()
    np.bitwise_or.at(bits, (pos >> 3).astype(np.int64), (1 << (pos & np.uint64(7))).astype(np.uint8))
    return bits


def maybe_contains(bits: np.ndarray, hashes: np.ndarray, nbits: int, k: int) -> np.ndarray:
    """Boolean array: True = maybe seen, False = definitely unseen."""
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    pos = bit_positions(hashes, nbits, k)
    byte_idx = (pos >> 3).astype(np.int64)
    masks = (1 << (pos & np.uint64(7))).astype(np.uint8)
    return ((bits[byte_idx] & masks) == masks).all(axis=1)


def in_sorted(keys: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """Boolean array: exact membership of each uint64 hash in the
    sorted uint64 array `keys` (the delta of the seen filter)."""
    if len(keys) == 0 or len(hashes) == 0:
        return np.zeros(len(hashes), dtype=bool)
    idx = np.searchsorted(keys, hashes)
    np.minimum(idx, len(keys) - 1, out=idx)
    return keys[idx] == hashes


def shard_of(hashes: np.ndarray, n_shards: int) -> np.ndarray:
    """pmod(url_hash, n_shards) — matches Spark's pmod on the same hash."""
    return (hashes.astype(np.int64) % n_shards + n_shards) % n_shards
