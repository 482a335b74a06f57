"""Frontier hot-log / terminal-archive split: compaction must be
invisible to crawl semantics while keeping the hot log free of old
terminal history (the 100×-read-path requirement — per-wave pending
scans must not read all-time crawled history)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark.wave import CrawlConfig, CrawlEngine, resolve_frontier


def _mk(spark, corpus_dir, work, compact_every):
    return CrawlEngine(
        spark,
        str(work),
        pages=spark.read.parquet(f"{corpus_dir}/pages.parquet"),
        seeds=spark.read.parquet(f"{corpus_dir}/seeds.parquet"),
        config=CrawlConfig(
            mode="fifo", batch_size=20, metrics=False, compact_every=compact_every
        ),
    )


def _full_sig(engine):
    # resolved over the FULL history (archive ∪ hot log): compaction
    # legitimately drops superseded pending versions (that is what
    # resolution means), so the invariant is resolved-state equality,
    # not raw log row equality
    return sorted(
        (r["site_id"], r["canonical_url"], r["state"], r["seq"], r["processed_wave"])
        for r in resolve_frontier(engine.frontier_log_full()).collect()
    )


def _seen_sig(engine):
    return sorted(
        (r["site_id"], r["url_hash"]) for r in engine.cat.read("seen").collect()
    )


@pytest.fixture(scope="module")
def plain_run(spark, corpus, tmp_path_factory):
    """The uncompacted 6-wave reference crawl; tests only read it."""
    eng = _mk(spark, corpus["dir"], tmp_path_factory.mktemp("cmp_plain"), compact_every=0)
    eng.run(max_waves=6)
    return eng


@pytest.fixture(scope="module")
def compacted_run(spark, corpus, tmp_path_factory):
    """The uninterrupted 6-wave crawl compacted every 2 waves; tests only
    read it."""
    eng = _mk(spark, corpus["dir"], tmp_path_factory.mktemp("cmp_comp"), compact_every=2)
    eng.run(max_waves=6)
    return eng


def test_compacted_crawl_equals_uncompacted(plain_run, compacted_run):
    plain, comp = plain_run, compacted_run

    # identical crawl semantics: full frontier history, seen set, crawled
    assert _full_sig(comp) == _full_sig(plain)
    assert _seen_sig(comp) == _seen_sig(plain)
    c_sig = lambda e: sorted(  # noqa: E731
        (r["site_id"], r["canonical_url"], r["wave"])
        for r in e.cat.read("crawled").collect()
    )
    assert c_sig(comp) == c_sig(plain)

    # the resolved views agree too
    fv = lambda e: sorted(  # noqa: E731
        (r["canonical_url"], r["state"]) for r in e.frontier_view().collect()
    )
    assert fv(comp) == fv(plain)

    # scale property: after the last compaction at wave k, the hot log
    # holds NO terminal row processed at or before k — old history lives
    # only in the archive, so pending scans stop reading it
    last_compact = max(
        w for w in range(1, comp.cat.committed_wave + 1) if w % 2 == 0
    )
    hot = comp.cat.read("frontier")
    stale_terminals = hot.filter(
        (F.col("state") != "pending") & (F.col("processed_wave") <= last_compact)
    ).count()
    assert stale_terminals == 0
    # and the archive is non-trivial (history actually moved out)
    assert comp.cat.read("frontier_archive").count() > 0


def test_compact_split_rerun_is_noop(spark, corpus, tmp_path_factory):
    """Re-running split-compaction at the same committed wave (crash
    retry / double call) must be a no-op — naively it would rmtree the
    consolidated hot dir its own lazy input reads from."""
    d = corpus["dir"]
    eng = _mk(spark, d, tmp_path_factory.mktemp("cmp_rerun"), compact_every=2)
    eng.bootstrap()
    for _ in range(2):  # compaction fired at wave 2
        eng.run_wave()
    before_full = _full_sig(eng)
    before_hot = sorted(
        (r["canonical_url"], r["state"])
        for r in eng.cat.read("frontier").collect()
    )
    from crawler_spark.wave import frontier_hot, resolve_frontier

    eng.cat.compact_split(
        "frontier", "frontier_archive", resolve_frontier, frontier_hot()
    )
    assert _full_sig(eng) == before_full
    assert (
        sorted(
            (r["canonical_url"], r["state"])
            for r in eng.cat.read("frontier").collect()
        )
        == before_hot
    )


def test_resume_across_compaction(spark, corpus, tmp_path_factory, compacted_run):
    """Kill-and-resume with compaction enabled must equal the
    uninterrupted compacted run (checkpoint atomicity covers the
    split-compaction's two-dir publish)."""
    d = corpus["dir"]
    work = tmp_path_factory.mktemp("cmp_resume")
    e1 = _mk(spark, d, work, compact_every=2)
    e1.bootstrap()
    for _ in range(3):  # waves 1..3 — compaction fired at wave 2
        e1.run_wave()
    # simulate a crash: a fresh engine over the same workdir resumes
    e2 = _mk(spark, d, work, compact_every=2)
    assert e2.cat.committed_wave == 3
    e2.run(max_waves=3)

    ref = compacted_run
    assert _full_sig(e2) == _full_sig(ref)
    assert _seen_sig(e2) == _seen_sig(ref)


def test_ratio_triggered_compaction(spark, corpus, tmp_path_factory, plain_run):
    """compact_terminal_ratio: with no fixed cadence, compaction must
    fire on its own once the consumed rows accumulated since the last
    compaction exceed ratio x live-pending — same crawl semantics as the
    uncompacted run, terminal history actually leaves the hot log, and
    the meta counter rides the atomic commit (resume-safe)."""
    d = corpus["dir"]
    plain = plain_run
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("rt_ratio")),
        pages=spark.read.parquet(f"{d}/pages.parquet"),
        seeds=spark.read.parquet(f"{d}/seeds.parquet"),
        config=CrawlConfig(
            mode="fifo", batch_size=20, metrics=False,
            compact_every=0, compact_terminal_ratio=0.25,
        ),
    )
    eng.run(max_waves=6)

    # identical crawl semantics
    assert _full_sig(eng) == _full_sig(plain)
    assert _seen_sig(eng) == _seen_sig(plain)

    # the trigger actually fired: terminal history moved to the archive
    # without any compact_every cadence
    assert eng.cat.read("frontier_archive").count() > 0
    # and the counter was reset at the trigger point, then re-accumulated
    # strictly less than a full run's worth of consumed rows
    counter = int(eng.cat.get_meta("frontier_terminal_since_compact", -1))
    total_consumed = sum(
        1 for _ in eng.cat.read("frontier").filter(F.col("state") != "pending").collect()
    ) + eng.cat.read("frontier_archive").count()
    assert 0 <= counter < total_consumed

    # resume keeps the counter (it published with the commit): a fresh
    # engine over the same workdir reads the same value
    eng2 = CrawlEngine(
        spark,
        eng.cat.root,
        pages=spark.read.parquet(f"{d}/pages.parquet"),
        seeds=spark.read.parquet(f"{d}/seeds.parquet"),
        config=eng.config,
    )
    assert int(eng2.cat.get_meta("frontier_terminal_since_compact", -1)) == counter


def test_compact_split_routes_null_predicate_rows_to_archive(spark, tmp_path):
    """SQL three-valued logic: filter(p) and filter(~p) BOTH drop rows
    where p is NULL. compact_split is a generic API, so a resolver/filter
    pair whose routing column can be null must still land every resolved
    row in exactly one output (NULL → archive)."""
    from crawler_spark import tableio
    from pyspark.sql import functions as F

    cat = tableio.TableCatalog(spark, str(tmp_path / "nullroute"))
    cat.register("log", tableio.APPEND)
    cat.register("log_archive", tableio.APPEND)
    df = spark.createDataFrame(
        [(1, "pending"), (2, "done"), (3, None)], "k long, state string"
    )
    cat.stage("log", df, 0)
    cat.commit(0)
    # force a second delta so compact_split doesn't early-return
    cat.stage("log", spark.createDataFrame([(4, "pending")], "k long, state string"), 1)
    cat.commit(1)
    cat.compact_split("log", "log_archive", lambda d: d, F.col("state") == "pending")
    hot = {r["k"] for r in cat.read("log").collect()}
    arch = {r["k"] for r in cat.read("log_archive").collect()}
    assert hot == {1, 4}
    assert arch == {2, 3}  # the NULL-state row is not silently dropped
    assert hot | arch == {1, 2, 3, 4} and not (hot & arch)
