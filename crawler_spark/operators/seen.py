"""URL-seen set: exact anti-join path (correctness oracle) and the
partitioned-filter fast path.

The reference's seen set is an in-memory ``set[str]`` per site
(fast_crawler_agent.py:54). Distributed equivalent:

* **exact**: a ``seen(url_hash, ...)`` table; membership test =
  ``left_anti`` join on ``(site_id, url_hash)``. At 10^10 rows this is a
  bucketed sort-merge join on ``pmod(url_hash, B)`` co-partitioning
  (storage-partitioned join under Iceberg; the parquet fallback
  repartitions both sides identically so the join is shuffle-local).
* **filtered**: a per-bucket filter blob (the ``seen_filters`` table,
  one row per url_hash bucket) prefilters candidates cheaply; its
  "maybe-seen" positives are confirmed by one exact anti-join that
  carries the flag in its key (:func:`confirm_maybe_seen`). Zero false
  negatives by construction.

The filter collection — bucketing, the cogrouped insert and probe, the
confirm — exists once, here. What a bucket's blob holds is a *kernel*:
a module with ``new(expected_items, fpr)``, ``insert(filt, hashes)``
and ``contains(filt, hashes)`` over one bucket's filter row
(``n_items``, ``m_bits``, ``k``, ``filter_blob``) —
:mod:`crawler_spark.operators.bloom` (hot default) or
:mod:`crawler_spark.operators.cuckoo` (deletion-capable fallback).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from crawler_spark.schemas import SEEN_FILTERS

# Number of url_hash buckets both frontier and seen repartition on before
# the anti-join. On a real cluster this is the Iceberg bucket(N, url_hash)
# partition transform; B sized so each bucket's Bloom blob stays ≤128 MB.
DEFAULT_BUCKETS = 32


def bucket_col(n_buckets: int = DEFAULT_BUCKETS):
    return F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int")


def anti_join_seen(
    candidates: DataFrame, seen: DataFrame, n_buckets: int = DEFAULT_BUCKETS
) -> DataFrame:
    """Rows of ``candidates`` whose (site_id, url_hash) is not in ``seen``.

    Both sides are repartitioned on ``url_hash`` — a subset of the join
    keys, which Spark's EnsureRequirements accepts as satisfying the
    join's ClusteredDistribution on both sides — so the anti-join reuses
    this single shuffle per side and inserts no further exchange
    (plan-asserted in tests/test_plans.py). Partitioning on a derived
    expression like ``pmod(url_hash, B)`` would NOT satisfy the join's
    required distribution and Spark would re-shuffle both sides on the
    full key set, wasting the explicit exchange. On a real cluster the
    same layout is the Iceberg ``bucket(B, url_hash)`` transform feeding
    a storage-partitioned join.
    """
    left = candidates.repartition(n_buckets, F.col("url_hash"))
    right = seen.select("site_id", "url_hash").repartition(
        n_buckets, F.col("url_hash")
    )
    return left.join(right, ["site_id", "url_hash"], "left_anti")


def confirm_maybe_seen(
    flagged: DataFrame, seen: DataFrame, n_buckets: int = DEFAULT_BUCKETS
) -> DataFrame:
    """Exact confirm of a prefilter's ``maybe_seen`` flags (Bloom or
    cuckoo) in ONE anti-join: ``maybe_seen`` is part of the join key and
    every ``seen`` row carries ``True``, so definite-new rows can never
    match and pass through, while maybe-seen rows are anti-joined
    exactly. ``flagged`` is read once; splitting it into a definite-new
    and a maybe-seen branch made every consuming job run the prefilter
    probe once per branch. Same co-partitioning as :func:`anti_join_seen`.
    """
    left = flagged.repartition(n_buckets, F.col("url_hash"))
    right = seen.select(
        "site_id", "url_hash", F.lit(True).alias("maybe_seen")
    ).repartition(n_buckets, F.col("url_hash"))
    return left.join(right, ["site_id", "url_hash", "maybe_seen"], "left_anti").drop(
        "maybe_seen"
    )


def _filter_of(filt: pd.DataFrame) -> dict:
    """One bucket's seen_filters row → the kernels' filter dict."""
    r = filt.iloc[0]
    return {
        "n_items": int(r["n_items"]),
        "m_bits": int(r["m_bits"]),
        "k": int(r["k"]),
        "filter_blob": r["filter_blob"],
    }


def insert_filters(
    filters: DataFrame,
    new_keys: DataFrame,
    kernel,
    n_buckets: int = DEFAULT_BUCKETS,
    expected_items: int = 200_000,
    fpr: float = 0.01,
) -> DataFrame:
    """Insert ``new_keys.url_hash`` into the per-bucket filters: one
    cogroup (filter row ⋈ the bucket's new keys) per bucket that has
    either. A bucket without a filter row starts from ``kernel.new``, so
    the wave-0 build is this insert into an empty ``seen_filters``
    frame. Returns one row per bucket present on either side."""
    per_bucket = max(1, expected_items // n_buckets)

    def merge(key, filt: pd.DataFrame, keys: pd.DataFrame) -> pd.DataFrame:
        f = _filter_of(filt) if len(filt) else kernel.new(per_bucket, fpr)
        if len(keys):
            f = kernel.insert(f, keys["url_hash"].to_numpy(dtype=np.int64))
        return pd.DataFrame([{"bucket": int(key[0]), **f}])

    keys_b = new_keys.select(bucket_col(n_buckets).alias("bucket"), "url_hash")
    return (
        filters.groupBy("bucket")
        .cogroup(keys_b.groupBy("bucket"))
        .applyInPandas(merge, SEEN_FILTERS)
    )


def flag_maybe_seen(
    candidates: DataFrame,
    filters: DataFrame,
    kernel,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Annotate candidates with ``maybe_seen`` via the per-bucket blobs.

    Cogrouped per bucket: the blob never leaves its partition, candidates
    shuffle once on the same bucket key as the filters table — the same
    co-partitioning the exact anti-join uses. A bucket without a filter
    row has seen nothing: its candidates are definitely new.
    """
    out_schema = StructType(
        candidates.schema.fields + [StructField("maybe_seen", BooleanType())]
    )
    cand_cols = candidates.columns

    def probe(cand: pd.DataFrame, filt: pd.DataFrame) -> pd.DataFrame:
        if not len(cand):
            return pd.DataFrame(columns=cand_cols + ["maybe_seen"])
        out = cand[cand_cols].copy()
        out["maybe_seen"] = (
            kernel.contains(
                _filter_of(filt), cand["url_hash"].to_numpy(dtype=np.int64)
            )
            if len(filt)
            else False
        )
        return out

    return (
        candidates.withColumn("_bucket", bucket_col(n_buckets))
        .groupBy("_bucket")
        .cogroup(filters.groupBy("bucket"))
        .applyInPandas(
            lambda key, c, f: probe(c.drop(columns=["_bucket"]), f), out_schema
        )
    )


def filtered_anti_join_seen(
    candidates: DataFrame,
    seen: DataFrame,
    filters: DataFrame,
    kernel,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Filter-prefiltered :func:`anti_join_seen`: one probe pass, then
    only maybe-seen rows (true dups + the filter's false positives) can
    match in the exact confirm join."""
    return confirm_maybe_seen(
        flag_maybe_seen(candidates, filters, kernel, n_buckets), seen, n_buckets
    )


def dedup_in_wave(links: DataFrame) -> DataFrame:
    """In-wave dedup with reference priority: the first enqueuer wins —
    min (parent_seq, link_idx) per (site_id, url_hash). Implemented as a
    min-struct aggregation (one shuffle, no window sort over the full
    wave's links)."""
    keep_cols = [c for c in links.columns]
    packed = links.select(
        "site_id",
        "url_hash",
        F.struct("parent_seq", "link_idx", *[c for c in keep_cols if c not in ("site_id", "url_hash", "parent_seq", "link_idx")]).alias("_row"),
    )
    first = packed.groupBy("site_id", "url_hash").agg(F.min("_row").alias("_row"))
    return first.select("site_id", "url_hash", "_row.*")
