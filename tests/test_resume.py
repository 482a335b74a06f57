"""Checkpoint/resume: kill after wave k, restart, final state must equal
the uninterrupted run (SURVEY §5 invariant 5; north-rule resume clause)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from crawler_spark.wave import CrawlConfig, CrawlEngine


def _mk_engine(spark, corpus_dir, work, **cfg_kw):
    cfg = CrawlConfig(mode="fifo", batch_size=20, metrics=False, **cfg_kw)
    return CrawlEngine(
        spark,
        str(work),
        pages=spark.read.parquet(f"{corpus_dir}/pages.parquet"),
        seeds=spark.read.parquet(f"{corpus_dir}/seeds.parquet"),
        robots=spark.read.parquet(f"{corpus_dir}/robots.parquet"),
        kb_seed=spark.read.parquet(f"{corpus_dir}/kb_seed.parquet"),
        ledger_seed=spark.read.parquet(f"{corpus_dir}/ledger_seed.parquet"),
        config=cfg,
    )


def _state_signature(engine):
    frontier = engine.cat.read("frontier")
    seen = engine.cat.read("seen")
    crawled = engine.cat.read("crawled")
    f_sig = sorted(
        (r["site_id"], r["canonical_url"], r["state"], r["seq"], r["processed_wave"])
        for r in frontier.collect()
    )
    s_sig = sorted((r["site_id"], r["url_hash"]) for r in seen.collect())
    c_sig = sorted((r["site_id"], r["canonical_url"], r["wave"]) for r in crawled.collect())
    return f_sig, s_sig, c_sig


def test_kill_and_resume_equals_uninterrupted(spark, corpus, tmp_path_factory):
    corpus_dir = corpus["dir"]

    # uninterrupted reference run
    w_full = tmp_path_factory.mktemp("resume_full")
    full = _mk_engine(spark, corpus_dir, w_full)
    full.run(max_waves=40)

    # interrupted run: 3 waves, then the process "dies" (engine discarded)
    w_int = tmp_path_factory.mktemp("resume_int")
    first = _mk_engine(spark, corpus_dir, w_int)
    first.bootstrap()
    for _ in range(3):
        first.run_wave()
    committed = first.cat.committed_wave
    assert committed == 3
    del first

    # a fresh engine on the same workdir resumes at committed_wave + 1
    second = _mk_engine(spark, corpus_dir, w_int)
    second.bootstrap()  # must be a no-op on the resumed catalog
    assert second.cat.committed_wave == 3
    second.run(max_waves=40)

    assert _state_signature(full) == _state_signature(second)


def test_crash_mid_wave_is_invisible(spark, corpus, tmp_path_factory):
    """Staged-but-uncommitted writes must not leak into a resumed run."""
    corpus_dir = corpus["dir"]
    w = tmp_path_factory.mktemp("resume_crash")
    e1 = _mk_engine(spark, corpus_dir, w)
    e1.bootstrap()
    e1.run_wave()
    # simulate a crash mid-wave-2: stage garbage without committing
    poisoned = e1.cat.read("seen").withColumn("url_hash", F.lit(0).cast("long"))
    e1.cat.stage("seen", poisoned, 2)
    del e1

    e2 = _mk_engine(spark, corpus_dir, w)
    assert e2.cat.committed_wave == 1
    seen = e2.cat.read("seen")
    assert seen.filter(F.col("url_hash") == 0).count() == 0  # garbage invisible
    # and the resumed run proceeds normally, overwriting the stale dir
    res = e2.run_wave()
    assert res["wave"] == 2


def test_metrics_lineage_recorded(spark, corpus, tmp_path_factory):
    corpus_dir = corpus["dir"]
    w = tmp_path_factory.mktemp("metrics_run")
    e = _mk_engine(spark, corpus_dir, w)
    e.config.metrics = True
    e.bootstrap()
    e.run_wave()
    e.run_wave()
    m = e.cat.read("metrics")
    stages = {r["stage"] for r in m.select("stage").distinct().collect()}
    assert {"selected", "fetched", "discovered"} <= stages
    waves = {r["wave"] for r in m.select("wave").distinct().collect()}
    assert {1, 2} <= waves
    assert m.filter(F.col("partition_id").isNull()).count() == 0


def test_stats_pending_counter_matches_actual(spark, corpus, tmp_path_factory):
    """site_stats.n_pending is maintained incrementally (discovered −
    consumed); it must equal the resolved pending view's true count at
    every commit point (the done/skip-budget checks rely on it)."""
    corpus_dir = corpus["dir"]
    w = tmp_path_factory.mktemp("pending_ctr")
    e = _mk_engine(spark, corpus_dir, w)
    e.bootstrap()
    for _ in range(3):
        e.run_wave()
        actual = {
            r["site_id"]: r["cnt"]
            for r in e.frontier_view()
            .filter(F.col("state") == "pending")
            .groupBy("site_id")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        tracked = {
            r["site_id"]: r["n_pending"]
            for r in e.cat.read("site_stats").collect()
        }
        for site, n in tracked.items():
            assert n == actual.get(site, 0), (site, n, actual.get(site, 0))


def test_wave_releases_pinned_blocks(spark, corpus, tmp_path_factory):
    """A wave pins each phase's output and must release every block
    before run_wave returns — on the normal path and on the all-gated
    early return (a wave whose whole pending set is KB-gated selects no
    batch). A leaked block adds a cache-lookup entry to every later
    action for the rest of the crawl."""
    from crawler_spark import schemas
    from crawler_spark.canon import canonicalize_udf
    from crawler_spark.functions.urlfns import kb_pattern

    corpus_dir = corpus["dir"]
    jsc = spark.sparkContext._jsc

    normal = _mk_engine(spark, corpus_dir, tmp_path_factory.mktemp("release_normal"))
    normal.bootstrap()
    before = jsc.getPersistentRDDs().size()
    assert normal.run_wave()["batch"] > 0
    assert jsc.getPersistentRDDs().size() <= before

    # a KB that gates every seed URL (failure_count >= 3 on its pattern)
    seeds = spark.read.parquet(f"{corpus_dir}/seeds.parquet")
    kb = spark.createDataFrame(
        seeds.select(
            "site_id",
            kb_pattern(canonicalize_udf("base_url")).alias("pattern"),
            F.lit(0.0).alias("total_score"),
            F.lit(0).cast("long").alias("count"),
            F.lit(0.0).alias("avg_score"),
            F.lit(3).cast("long").alias("failure_count"),
        ).distinct().collect(),
        schemas.KB,
    )
    gated = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("release_gated")),
        pages=spark.read.parquet(f"{corpus_dir}/pages.parquet"),
        seeds=seeds,
        kb_seed=kb,
        config=CrawlConfig(mode="fifo", batch_size=20, metrics=False),
    )
    gated.bootstrap()
    before = jsc.getPersistentRDDs().size()
    res = gated.run_wave()
    assert res["batch"] == 0 and not res["done"]
    assert jsc.getPersistentRDDs().size() <= before
    # the gated seeds were consumed as terminal rows
    states = {r["state"] for r in gated.cat.read("frontier").collect()}
    assert "gated_kb" in states
