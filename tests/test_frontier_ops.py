"""Frontier micro-ops: distributed seq assignment ≡ Window path."""

from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from crawler_spark.operators.frontier import assign_seq, topk_per_group


def test_distributed_assign_seq_matches_window(spark):
    rng = random.Random(3)
    rows = []
    for site in ("a", "b"):
        for _ in range(5000):
            rows.append((site, rng.randint(1, 400), rng.randint(0, 49), rng.random()))
    links = spark.createDataFrame(
        rows, "site_id string, parent_seq long, link_idx int, payload double"
    ).dropDuplicates(["site_id", "parent_seq", "link_idx"])
    max_seq = spark.createDataFrame(
        [("a", 100), ("b", 7)], "site_id string, _max_seq long"
    )
    w = {
        (r["site_id"], r["parent_seq"], r["link_idx"]): r["seq"]
        for r in assign_seq(links, max_seq, distributed=False).collect()
    }
    d = {
        (r["site_id"], r["parent_seq"], r["link_idx"]): r["seq"]
        for r in assign_seq(links, max_seq, distributed=True, n_parts=16).collect()
    }
    assert w == d
    # seqs are consecutive per site starting after max_seq
    for site, start in (("a", 100), ("b", 7)):
        seqs = sorted(v for (s, *_), v in w.items() if s == site)
        assert seqs[0] == start + 1 and seqs == list(range(start + 1, start + 1 + len(seqs)))


def test_topk_per_group_matches_naive_window_under_skew(spark):
    """The two-phase distributed top-k must select EXACTLY the rows a
    single per-group window rank would, on a mega-host input (one group
    holds ~70% of rows) and with per-group k values, including k larger
    than a small group (whole group kept) and k=0 edge groups."""
    rng = random.Random(11)
    rows = []
    for i in range(20000):
        site = "mega0" if rng.random() < 0.7 else f"site{rng.randint(1, 30)}"
        rows.append((site, i))
    df = spark.createDataFrame(rows, "site_id string, seq long").repartition(16)
    ks = [("mega0", 500)] + [
        (f"site{i}", 0 if i == 7 else (10**6 if i == 9 else 25))
        for i in range(1, 31)
    ]
    kdf = spark.createDataFrame(ks, "site_id string, batch_size long")
    annotated = df.join(F.broadcast(kdf), "site_id")

    ours = {
        (r["site_id"], r["seq"])
        for r in topk_per_group(annotated, ["site_id"], [F.asc("seq")], "batch_size")
        .filter(F.col("_rn") <= F.col("batch_size"))
        .collect()
    }
    w = Window.partitionBy("site_id").orderBy(F.asc("seq"))
    naive = {
        (r["site_id"], r["seq"])
        for r in annotated.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("batch_size"))
        .collect()
    }
    assert ours == naive
    assert sum(1 for s, _ in ours if s == "mega0") == 500
    assert not any(s == "site7" for s, _ in ours)


def test_distributed_assign_seq_single_parent(spark):
    """Degenerate range (_lo == _hi) must not divide by zero or skew."""
    links = spark.createDataFrame(
        [("s", 5, i, float(i)) for i in range(40)],
        "site_id string, parent_seq long, link_idx int, payload double",
    )
    max_seq = spark.createDataFrame([("s", 0)], "site_id string, _max_seq long")
    got = sorted(
        r["seq"] for r in assign_seq(links, max_seq, distributed=True, n_parts=8).collect()
    )
    assert got == list(range(1, 41))


def test_distributed_assign_seq_runs_no_range_sampling_job(spark, in_job_group):
    """The per-(bucket, site) counts are sorted on the driver: an orderBy
    before the collect adds a range-partitioning exchange, whose sampling
    job evaluates the input once more."""
    links = spark.createDataFrame(
        [(s, p, i) for s in ("a", "b") for p in range(1, 60) for i in range(3)],
        "site_id string, parent_seq long, link_idx int",
    )
    max_seq = spark.createDataFrame([("a", 10), ("b", 0)], "site_id string, _max_seq long")
    rows, nodes = in_job_group(
        lambda: assign_seq(links, max_seq, distributed=True, n_parts=8).collect()
    )
    assert sorted(r["seq"] for r in rows if r["site_id"] == "a") == list(range(11, 188))
    assert nodes, "no SQL execution recorded for the job group"
    ranged = [d for n, d in nodes if n.startswith("Exchange") and "rangepartitioning" in d]
    assert not ranged, ranged
