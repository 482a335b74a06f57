"""URL-seen set: exact anti-join path (correctness oracle) and the
partitioned-Bloom fast path.

The reference's seen set is an in-memory ``set[str]`` per site
(fast_crawler_agent.py:54). Distributed equivalent:

* **exact**: a ``seen(url_hash, ...)`` table; membership test =
  ``left_anti`` join on ``(site_id, url_hash)``. At 10^10 rows this is a
  bucketed sort-merge join on ``pmod(url_hash, B)`` co-partitioning
  (storage-partitioned join under Iceberg; the parquet fallback
  repartitions both sides identically so the join is shuffle-local).
* **bloom** (see :mod:`crawler_spark.operators.bloom`): a per-bucket
  Bloom-filter blob prefilters candidates cheaply; Bloom "maybe-seen"
  positives are confirmed by one exact anti-join that carries the flag
  in its key (:func:`confirm_maybe_seen`). Zero false negatives by
  construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
