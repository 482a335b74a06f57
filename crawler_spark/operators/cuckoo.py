"""Cuckoo-filter fallback for the URL-seen set (north rule: "bloom
(fallback cuckoo)").

Partial-key cuckoo hashing (Fan et al., CoNLL'14 "Cuckoo Filter:
Practically Better Than Bloom" — public algorithm): 16-bit fingerprints,
4 slots per bucket, alternate bucket = bucket XOR hash(fingerprint).
Compared to Bloom it supports deletion (needed if the frontier ever
retracts URLs, e.g. robots rules arriving late) and ~95% load factor.

Same partitioned layout as the Bloom path: one filter blob per url_hash
bucket, inserted into and probed by the shared operators of
:mod:`crawler_spark.operators.seen` through this module's per-bucket
:func:`new` / :func:`insert` / :func:`contains`. Insert order is
inherently sequential (eviction chains), so the insert loop is per-batch
Python — acceptable for a fallback; the hot default is the Bloom path.
"""

from __future__ import annotations

import math

import numpy as np

_EMPTY = 0
_MAX_KICKS = 500
_SLOTS_PER_BUCKET = 4
_TARGET_LOAD = 0.84  # headroom under the ~0.95 theoretical max


class CuckooFilter:
    """One bucket's filter; serializable to bytes for the filters table."""

    def __init__(self, n_slots_log2: int = 16):
        self.n_buckets = 1 << n_slots_log2
        self.mask = self.n_buckets - 1
        self.table = np.zeros((self.n_buckets, 4), dtype=np.uint16)
        self.n_items = 0

    # fingerprint: 16 bits from the high half; never 0 (0 = empty slot)
    @staticmethod
    def _fingerprint(h: int) -> int:
        fp = (h >> 48) & 0xFFFF
        return fp if fp != 0 else 1

    def _index(self, h: int) -> int:
        return h & self.mask

    def _alt_index(self, idx: int, fp: int) -> int:
        # fp hashed with a small multiplier (public-domain constant mix)
        return (idx ^ (fp * 0x5BD1E995)) & self.mask

    def insert(self, h: int) -> bool:
        h &= 0xFFFFFFFFFFFFFFFF
        fp = self._fingerprint(h)
        i1 = self._index(h)
        i2 = self._alt_index(i1, fp)
        for idx in (i1, i2):
            row = self.table[idx]
            free = np.where(row == _EMPTY)[0]
            if len(free):
                row[free[0]] = fp
                self.n_items += 1
                return True
        # eviction chain
        idx = i1 if (h & 1) else i2
        rng = np.random.default_rng(h & 0xFFFFFFFF)  # deterministic per key
        for _ in range(_MAX_KICKS):
            slot = int(rng.integers(0, 4))
            fp, self.table[idx][slot] = int(self.table[idx][slot]), fp
            idx = self._alt_index(idx, fp)
            row = self.table[idx]
            free = np.where(row == _EMPTY)[0]
            if len(free):
                row[free[0]] = fp
                self.n_items += 1
                return True
        return False  # table full

    def contains(self, h: int) -> bool:
        h &= 0xFFFFFFFFFFFFFFFF
        fp = self._fingerprint(h)
        i1 = self._index(h)
        i2 = self._alt_index(i1, fp)
        return bool((self.table[i1] == fp).any() or (self.table[i2] == fp).any())

    def delete(self, h: int) -> bool:
        h &= 0xFFFFFFFFFFFFFFFF
        fp = self._fingerprint(h)
        i1 = self._index(h)
        i2 = self._alt_index(i1, fp)
        for idx in (i1, i2):
            row = self.table[idx]
            hit = np.where(row == fp)[0]
            if len(hit):
                row[hit[0]] = _EMPTY
                self.n_items -= 1
                return True
        return False

    def contains_many(self, hashes: np.ndarray) -> np.ndarray:
        u = hashes.astype(np.uint64)
        fp = ((u >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)
        i1 = (u & np.uint64(self.mask)).astype(np.int64)
        i2 = (i1 ^ ((fp.astype(np.int64) * 0x5BD1E995) & self.mask)) & self.mask
        t = self.table
        m1 = (t[i1] == fp[:, None]).any(axis=1)
        m2 = (t[i2] == fp[:, None]).any(axis=1)
        return m1 | m2

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes, n_items: int = 0) -> "CuckooFilter":
        f = cls.__new__(cls)
        table = np.frombuffer(blob, dtype=np.uint16).reshape(-1, 4).copy()
        f.table = table
        f.n_buckets = table.shape[0]
        f.mask = f.n_buckets - 1
        f.n_items = n_items
        return f


# --- per-bucket kernel (operators/seen.py, same interface as bloom.py) ------
#
# Same table schema as the Bloom path (schemas.SEEN_FILTERS — ``m_bits``
# stores the cuckoo table's slot-row count, ``k`` the slots per row). The
# wave loop selects the kernel via CrawlConfig.seen_filter_kind; both
# compose with the exact anti-join confirm, so correctness never depends
# on the filter.

def size_cuckoo(expected_items: int) -> int:
    """slot-rows-log2 for one bucket's table at the target load factor."""
    need = max(1, expected_items) / (_SLOTS_PER_BUCKET * _TARGET_LOAD)
    return max(4, math.ceil(math.log2(need)))


_SATURATED = -1  # n_items sentinel: bucket over capacity, degraded


def _insert_batch(f: "CuckooFilter", hashes: np.ndarray) -> bool:
    """Insert all hashes; False once the table saturates.

    A cuckoo table cannot grow in place (bucket indexes need the full
    key hash, which the stored fingerprints no longer carry), and
    stopping mid-batch leaves the uninserted keys as FALSE NEGATIVES —
    which would break the anti-join's no-duplicate guarantee. So the
    caller marks a saturated bucket with ``n_items = _SATURATED``:
    lookups then report maybe_seen=True for EVERY candidate in that
    bucket and the exact anti-join confirms each one. Performance
    degrades (that bucket loses its prefilter), correctness does not —
    the cuckoo analog of a Bloom filter's FPR drifting up when
    overfull, instead of the former hard ValueError that killed the
    wave mid-crawl."""
    for h in hashes.tolist():  # eviction chains are inherently sequential
        if not f.insert(int(h)):
            return False
    return True


def _row(f: CuckooFilter, ok: bool) -> dict:
    return {
        "n_items": f.n_items if ok else _SATURATED,
        "m_bits": f.n_buckets,
        "k": _SLOTS_PER_BUCKET,
        "filter_blob": f.to_bytes(),
    }


def new(expected_items: int, fpr: float) -> dict:
    """An empty bucket filter sized for ``expected_items`` keys. ``fpr``
    is accepted for interface parity with the Bloom kernel; 16-bit
    fingerprints fix the cuckoo FPR at ~2·4/2^16 ≈ 1.2e−4 regardless."""
    return _row(CuckooFilter(n_slots_log2=size_cuckoo(expected_items)), True)


def insert(filt: dict, hashes: np.ndarray) -> dict:
    """``filt`` with ``hashes`` inserted. An already-saturated bucket
    stays saturated (its lookups are all-maybe-seen anyway — inserting
    more fingerprints is moot)."""
    if filt["n_items"] < 0:
        return filt
    f = CuckooFilter.from_bytes(filt["filter_blob"], filt["n_items"])
    return _row(f, _insert_batch(f, hashes))


def contains(filt: dict, hashes: np.ndarray) -> np.ndarray:
    """maybe-present flag per hash; a saturated bucket flags every
    candidate, so each pays the exact confirm — no false negatives."""
    if filt["n_items"] < 0:
        return np.ones(len(hashes), dtype=bool)
    return CuckooFilter.from_bytes(
        filt["filter_blob"], filt["n_items"]
    ).contains_many(hashes)
