"""Cuckoo-filter fallback for the URL-seen set (north rule: "bloom
(fallback cuckoo)").

Partial-key cuckoo hashing (Fan et al., CoNLL'14 "Cuckoo Filter:
Practically Better Than Bloom" — public algorithm): 16-bit fingerprints,
4 slots per bucket, alternate bucket = bucket XOR hash(fingerprint).
Compared to Bloom it supports deletion (needed if the frontier ever
retracts URLs, e.g. robots rules arriving late) and ~95% load factor.

Same partitioned layout as the Bloom path: one filter blob per url_hash
bucket, built/updated in ``applyInPandas``. Insert order is inherently
sequential (eviction chains), so the insert loop is per-batch Python —
acceptable for a fallback; the hot default is the Bloom path.
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


# --- Spark operators (interface parity with operators/bloom.py) -------------
#
# Same partitioned layout and table schema as the Bloom path: one filter
# blob row per url_hash bucket in the ``seen_filters`` table
# (schemas.SEEN_FILTERS — ``m_bits`` stores the cuckoo table's slot-row
# count, ``k`` the slots per row). The wave loop selects the
# implementation via CrawlConfig.seen_filter_kind; both compose with the
# exact anti-join confirm, so correctness never depends on the filter.

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


def build_cuckoo_filters(
    seen, n_buckets: int = 32, expected_items: int = 200_000, fpr: float = 0.01
):
    """Build the seen_filters table from scratch (one cuckoo blob per
    bucket). ``fpr`` is accepted for signature parity with the Bloom
    builder; 16-bit fingerprints fix the cuckoo FPR at ~2·4/2^16 ≈ 1.2e−4
    regardless."""
    import pandas as pd
    from pyspark.sql import functions as F

    from crawler_spark.schemas import SEEN_FILTERS as FILTERS_SCHEMA

    log2_slots = size_cuckoo(max(1, expected_items // n_buckets))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        f = CuckooFilter(n_slots_log2=log2_slots)
        ok = _insert_batch(f, pdf["url_hash"].to_numpy(dtype=np.int64))
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "n_items": [f.n_items if ok else _SATURATED],
                "m_bits": [f.n_buckets],
                "k": [_SLOTS_PER_BUCKET],
                "filter_blob": [f.to_bytes()],
            }
        )

    bucketed = seen.select(
        F.pmod("url_hash", F.lit(n_buckets)).cast("int").alias("bucket"), "url_hash"
    )
    return bucketed.groupBy("bucket").applyInPandas(build, FILTERS_SCHEMA)


def update_cuckoo_filters(
    filters, new_keys, n_buckets: int = 32,
    expected_items: int = 200_000, fpr: float = 0.01,
):
    """Insert one wave's new url_hashes into the per-bucket blobs."""
    import pandas as pd
    from pyspark.sql import functions as F

    from crawler_spark.schemas import SEEN_FILTERS as FILTERS_SCHEMA

    log2_default = size_cuckoo(max(1, expected_items // n_buckets))

    def merge(key, filt: pd.DataFrame, keys: pd.DataFrame) -> pd.DataFrame:
        prior_items = int(filt["n_items"].iloc[0]) if len(filt) else 0
        if len(filt):
            f = CuckooFilter.from_bytes(
                bytes(filt["filter_blob"].iloc[0]), max(prior_items, 0)
            )
        else:
            f = CuckooFilter(n_slots_log2=log2_default)
        # an already-saturated bucket stays saturated (its lookups are
        # all-maybe-seen anyway — inserting more fingerprints is moot)
        ok = prior_items >= 0 and (
            _insert_batch(f, keys["url_hash"].to_numpy(dtype=np.int64))
            if len(keys)
            else True
        )
        return pd.DataFrame(
            {
                "bucket": [int(key[0])],
                "n_items": [f.n_items if ok else _SATURATED],
                "m_bits": [f.n_buckets],
                "k": [_SLOTS_PER_BUCKET],
                "filter_blob": [f.to_bytes()],
            }
        )

    keys_b = new_keys.select(
        F.pmod("url_hash", F.lit(n_buckets)).cast("int").alias("bucket"), "url_hash"
    )
    return (
        filters.groupBy("bucket")
        .cogroup(keys_b.groupBy("bucket"))
        .applyInPandas(merge, FILTERS_SCHEMA)
    )


def cuckoo_flag(candidates, filters, n_buckets: int = 32):
    """Annotate candidates with ``maybe_seen`` via the per-bucket blobs
    (cogrouped per bucket, vectorized ``contains_many`` probe)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import BooleanType, StructField, StructType

    out_schema = StructType(
        candidates.schema.fields + [StructField("maybe_seen", BooleanType())]
    )
    cand_cols = candidates.columns

    def test(key, cand: pd.DataFrame, filt: pd.DataFrame) -> pd.DataFrame:
        if not len(cand):
            return pd.DataFrame(columns=cand_cols + ["maybe_seen"])
        out = cand[cand_cols].copy()
        if not len(filt):
            out["maybe_seen"] = False
            return out
        n_items = int(filt["n_items"].iloc[0])
        if n_items < 0:  # saturated bucket: every candidate pays the
            out["maybe_seen"] = True  # exact confirm — no false negatives
            return out
        f = CuckooFilter.from_bytes(
            bytes(filt["filter_blob"].iloc[0]), n_items
        )
        out["maybe_seen"] = f.contains_many(
            cand["url_hash"].to_numpy(dtype=np.int64)
        )
        return out

    cand_b = candidates.withColumn(
        "_bucket", F.pmod("url_hash", F.lit(n_buckets)).cast("int")
    )
    return (
        cand_b.groupBy("_bucket")
        .cogroup(filters.groupBy("bucket"))
        .applyInPandas(
            lambda key, c, f: test(key, c.drop(columns=["_bucket"]), f),
            out_schema,
        )
    )


def cuckoo_anti_join_seen(candidates, seen, filters, n_buckets: int = 32):
    """Cuckoo-prefiltered anti-join, same composition as the Bloom path:
    one probe pass, then only maybe-seen rows (true dups + tiny
    fingerprint-FPR share) can match in the exact confirm join."""
    from crawler_spark.operators.seen import confirm_maybe_seen

    flagged = cuckoo_flag(candidates, filters, n_buckets)
    return confirm_maybe_seen(flagged, seen, n_buckets)
