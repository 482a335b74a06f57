"""Partitioned Bloom-filter URL-seen set (north-rule fast path): the
per-bucket kernel.

The seen set is keyed by ``xxhash64(canonical_url)`` (a signed 64-bit
long, already uniformly distributed). Rows are partitioned into
``n_buckets`` by ``pmod(url_hash, n_buckets)``; each bucket owns one
Bloom bitarray stored as a binary blob row in the ``seen_filters`` table.
The bucketed collection — insert, probe and exact confirm — is shared
with the cuckoo fallback and lives in :mod:`crawler_spark.operators.seen`;
this module supplies the per-bucket :func:`new` / :func:`insert` /
:func:`contains` it runs.

* **Probes**: double hashing from the 64-bit key itself — h1 = low 32
  bits, h2 = (high 32 bits | 1); probe_i = (h1 + i·h2) mod m. No extra
  hash passes over the URL string: the key IS the hash.
* **Insert**: numpy ``bitwise_or.at`` over the whole batch (vectorized,
  no per-row Python). Per-wave maintenance ORs the wave's new keys into
  each bucket's blob (no rebuild).
* **Contains**: row-wise AND over the k probe bits → ``maybe_seen``.
  False negatives are impossible by construction.

Scale: m is sized per bucket from ``expected_items`` and target FPR. For
10^10 URLs at 1% FPR, total bits ≈ 10^10 × 9.6 ≈ 12 GB → with blobs
capped at 128 MB that is ~90+ buckets; ``n_buckets`` is a config.
"""

from __future__ import annotations

import math

import numpy as np


def size_filter(expected_items: int, fpr: float) -> tuple[int, int]:
    """(m_bits, k) for a target false-positive rate."""
    n = max(1, expected_items)
    m = int(math.ceil(-n * math.log(fpr) / (math.log(2) ** 2)))
    m = max(64, (m + 63) // 64 * 64)  # round to whole words
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


def _probes(hashes: np.ndarray, m: int, k: int) -> np.ndarray:
    """(len(hashes), k) probe bit positions via double hashing (vectorized)."""
    u = hashes.astype(np.uint64)
    h1 = (u & np.uint64(0xFFFFFFFF)).astype(np.uint64)
    h2 = ((u >> np.uint64(32)) | np.uint64(1)).astype(np.uint64)
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)).astype(np.int64)


def _set_bits(blob: np.ndarray, pos: np.ndarray) -> None:
    flat = pos.ravel()
    np.bitwise_or.at(blob, flat >> 3, (1 << (flat & 7)).astype(np.uint8))


def _test_bits(blob: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """row-wise AND over k probes → maybe-present boolean per row."""
    bits = (blob[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
    return bits.all(axis=1)


# --- scalar oracle paths (pytest cross-check) ------------------------------

def scalar_insert(blob: bytearray, h: int, m: int, k: int) -> None:
    u = h & 0xFFFFFFFFFFFFFFFF
    h1, h2 = u & 0xFFFFFFFF, (u >> 32) | 1
    for i in range(k):
        p = (h1 + i * h2) % m
        blob[p >> 3] |= 1 << (p & 7)


def scalar_contains(blob: bytes, h: int, m: int, k: int) -> bool:
    u = h & 0xFFFFFFFFFFFFFFFF
    h1, h2 = u & 0xFFFFFFFF, (u >> 32) | 1
    return all(blob[(p := (h1 + i * h2) % m) >> 3] >> (p & 7) & 1 for i in range(k))


# --- per-bucket kernel (operators/seen.py) ----------------------------------
# A bucket's filter is its seen_filters row minus the bucket id:
# {n_items, m_bits, k, filter_blob}.

def new(expected_items: int, fpr: float) -> dict:
    """An empty bucket filter sized for ``expected_items`` keys."""
    m, k = size_filter(expected_items, fpr)
    return {"n_items": 0, "m_bits": m, "k": k, "filter_blob": bytes(m // 8)}


def insert(filt: dict, hashes: np.ndarray) -> dict:
    """``filt`` with ``hashes`` OR-ed in."""
    blob = np.frombuffer(filt["filter_blob"], dtype=np.uint8).copy()
    _set_bits(blob, _probes(hashes, filt["m_bits"], filt["k"]))
    return {
        **filt,
        "n_items": filt["n_items"] + len(hashes),
        "filter_blob": blob.tobytes(),
    }


def contains(filt: dict, hashes: np.ndarray) -> np.ndarray:
    """maybe-present flag per hash."""
    blob = np.frombuffer(filt["filter_blob"], dtype=np.uint8)
    return _test_bits(blob, _probes(hashes, filt["m_bits"], filt["k"]))
