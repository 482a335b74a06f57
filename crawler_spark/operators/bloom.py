"""Partitioned Bloom-filter URL-seen set (north-rule fast path).

The seen set is keyed by ``xxhash64(canonical_url)`` (a signed 64-bit
long, already uniformly distributed). Rows are partitioned into
``n_buckets`` by ``pmod(url_hash, n_buckets)``; each bucket owns one
Bloom bitarray stored as a binary blob row in the ``seen_filters`` table.

* **Probes**: double hashing from the 64-bit key itself — h1 = low 32
  bits, h2 = (high 32 bits | 1); probe_i = (h1 + i·h2) mod m. No extra
  hash passes over the URL string: the key IS the hash.
* **Build/update**: ``applyInPandas`` per bucket (grouped-map, numpy
  ``bitwise_or.at`` over the whole batch — vectorized, no per-row
  Python). Per-wave maintenance ORs the wave's new keys into each
  bucket's blob (no rebuild).
* **Query**: cogrouped ``applyInPandas`` (candidates ⋈ filter blob per
  bucket) → ``maybe_seen`` flag. False negatives are impossible by
  construction; positives are confirmed by one exact anti-join that
  carries the flag in its key (definite-new rows pass through it
  unmatched), so the probe runs once per consuming job and the Bloom
  is never a correctness risk.

Scale: m is sized per bucket from ``expected_items`` and target FPR. For
10^10 URLs at 1% FPR, total bits ≈ 10^10 × 9.6 ≈ 12 GB → with blobs
capped at 128 MB that is ~90+ buckets; ``n_buckets`` is a config.
A cuckoo-filter fallback (supports deletion, higher load factor) is
provided for parity with the north rule's "bloom/cuckoo" requirement.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from crawler_spark.schemas import SEEN_FILTERS as FILTERS_SCHEMA


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


# --- Spark operators ---------------------------------------------------------

def build_filters(
    seen: DataFrame,
    n_buckets: int = 32,
    expected_items: int = 200_000,
    fpr: float = 0.01,
) -> DataFrame:
    """Build the seen_filters table from scratch (one blob per bucket)."""
    m, k = size_filter(max(1, expected_items // n_buckets), fpr)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        blob = np.zeros(m // 8, dtype=np.uint8)
        hashes = pdf["url_hash"].to_numpy(dtype=np.int64)
        _set_bits(blob, _probes(hashes, m, k))
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "n_items": [len(pdf)],
                "m_bits": [m],
                "k": [k],
                "filter_blob": [blob.tobytes()],
            }
        )

    bucketed = seen.select(
        F.pmod("url_hash", F.lit(n_buckets)).cast("int").alias("bucket"), "url_hash"
    )
    return bucketed.groupBy("bucket").applyInPandas(build, FILTERS_SCHEMA)


def update_filters(
    filters: DataFrame, new_keys: DataFrame, n_buckets: int = 32,
    expected_items: int = 200_000, fpr: float = 0.01,
) -> DataFrame:
    """OR one wave's new url_hashes into the per-bucket blobs (no rebuild)."""
    m_default, k_default = size_filter(max(1, expected_items // n_buckets), fpr)

    def merge(key, filt: pd.DataFrame, keys: pd.DataFrame) -> pd.DataFrame:
        if len(filt):
            m = int(filt["m_bits"].iloc[0])
            k = int(filt["k"].iloc[0])
            blob = np.frombuffer(filt["filter_blob"].iloc[0], dtype=np.uint8).copy()
            n = int(filt["n_items"].iloc[0])
        else:
            m, k = m_default, k_default
            blob = np.zeros(m // 8, dtype=np.uint8)
            n = 0
        if len(keys):
            hashes = keys["url_hash"].to_numpy(dtype=np.int64)
            _set_bits(blob, _probes(hashes, m, k))
            n += len(keys)
        return pd.DataFrame(
            {
                "bucket": [int(key[0])],
                "n_items": [n],
                "m_bits": [m],
                "k": [k],
                "filter_blob": [blob.tobytes()],
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


def bloom_flag(
    candidates: DataFrame, filters: DataFrame, n_buckets: int = 32
) -> DataFrame:
    """Annotate candidates with ``maybe_seen`` via the per-bucket blobs.

    Cogrouped per bucket: the blob never leaves its partition, candidates
    shuffle once on the same bucket key as the filters table — the same
    co-partitioning the exact anti-join uses.
    """
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
            return out.drop(columns=["_bucket"]) if "_bucket" in out else out
        m = int(filt["m_bits"].iloc[0])
        k = int(filt["k"].iloc[0])
        blob = np.frombuffer(filt["filter_blob"].iloc[0], dtype=np.uint8)
        hashes = cand["url_hash"].to_numpy(dtype=np.int64)
        out["maybe_seen"] = _test_bits(blob, _probes(hashes, m, k))
        return out

    cand_b = candidates.withColumn(
        "_bucket", F.pmod("url_hash", F.lit(n_buckets)).cast("int")
    )
    res = (
        cand_b.groupBy("_bucket")
        .cogroup(filters.groupBy("bucket"))
        .applyInPandas(
            lambda key, c, f: test(key, c.drop(columns=["_bucket"]), f),
            out_schema,
        )
    )
    return res


def bloom_anti_join_seen(
    candidates: DataFrame,
    seen: DataFrame,
    filters: DataFrame,
    n_buckets: int = 32,
) -> DataFrame:
    """Bloom-prefiltered anti-join: one probe pass, then only maybe-seen
    rows (true dups + FPR·new) can match in the exact confirm join."""
    from crawler_spark.operators.seen import confirm_maybe_seen

    flagged = bloom_flag(candidates, filters, n_buckets)
    return confirm_maybe_seen(flagged, seen, n_buckets)
