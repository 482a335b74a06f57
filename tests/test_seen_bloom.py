"""Bloom/cuckoo seen-set: zero false negatives, bounded FPR, and
equivalence of the bloom-accelerated anti-join with the exact path
(SURVEY §5 invariant 3)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawler_spark.operators import bloom, cuckoo
from crawler_spark.operators.cuckoo import CuckooFilter
from crawler_spark.operators.seen import (
    anti_join_seen,
    filtered_anti_join_seen,
    flag_maybe_seen,
    insert_filters,
)
from crawler_spark.schemas import SEEN_FILTERS

N_BUCKETS = 8
FPR = 0.01


def _build(spark, keys, kernel, **kw):
    """The wave-0 build: the shared insert into an empty seen_filters."""
    return insert_filters(spark.createDataFrame([], SEEN_FILTERS), keys, kernel, **kw)


@pytest.fixture(scope="module")
def hash_sets():
    rng = np.random.default_rng(7)
    seen = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    fresh = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    fresh = np.setdiff1d(fresh, seen)
    return seen, fresh


def test_scalar_vs_vector_probe_consistency():
    m, k = bloom.size_filter(1000, FPR)
    blob = bytearray(m // 8)
    hs = [123456789, -987654321, 0, 2**62, -(2**62)]
    for h in hs:
        bloom.scalar_insert(blob, h, m, k)
    arr = np.frombuffer(bytes(blob), dtype=np.uint8)
    got = bloom._test_bits(arr, bloom._probes(np.array(hs, dtype=np.int64), m, k))
    assert got.all()
    for h in hs:
        assert bloom.scalar_contains(bytes(blob), h, m, k)


def test_bloom_no_false_negatives_and_fpr(spark, hash_sets):
    seen, fresh = hash_sets
    seen_df = spark.createDataFrame([(int(h),) for h in seen], "url_hash long")
    filters = _build(
        spark, seen_df, bloom, n_buckets=N_BUCKETS, expected_items=len(seen), fpr=FPR
    ).persist()

    flagged_seen = flag_maybe_seen(seen_df, filters, bloom, N_BUCKETS)
    n_missed = flagged_seen.filter(~F.col("maybe_seen")).count()
    assert n_missed == 0  # zero false negatives

    fresh_df = spark.createDataFrame([(int(h),) for h in fresh], "url_hash long")
    n_fp = flag_maybe_seen(fresh_df, filters, bloom, N_BUCKETS).filter("maybe_seen").count()
    measured_fpr = n_fp / len(fresh)
    assert measured_fpr <= 3 * FPR, measured_fpr
    filters.unpersist()


def test_bloom_anti_join_equals_exact(spark, hash_sets):
    seen, fresh = hash_sets
    half = len(fresh) // 2
    cand_hashes = np.concatenate([seen[:5000], fresh[:half]])
    seen_df = spark.createDataFrame(
        [("s", int(h)) for h in seen], "site_id string, url_hash long"
    )
    cand_df = spark.createDataFrame(
        [("s", int(h)) for h in cand_hashes], "site_id string, url_hash long"
    )
    filters = _build(
        spark, seen_df, bloom, n_buckets=N_BUCKETS, expected_items=len(seen), fpr=FPR
    )
    exact = {
        r["url_hash"] for r in anti_join_seen(cand_df, seen_df, N_BUCKETS).collect()
    }
    fast = {
        r["url_hash"]
        for r in filtered_anti_join_seen(
            cand_df, seen_df, filters, bloom, N_BUCKETS
        ).collect()
    }
    assert fast == exact
    assert fast == set(int(h) for h in fresh[:half])


def test_bloom_incremental_update_matches_rebuild(spark, hash_sets):
    seen, fresh = hash_sets
    first = spark.createDataFrame([(int(h),) for h in seen[:10000]], "url_hash long")
    second = spark.createDataFrame([(int(h),) for h in seen[10000:]], "url_hash long")
    f1 = _build(spark, first, bloom, n_buckets=N_BUCKETS, expected_items=len(seen), fpr=FPR)
    f2 = insert_filters(f1, second, bloom, N_BUCKETS, expected_items=len(seen), fpr=FPR)
    all_df = spark.createDataFrame([(int(h),) for h in seen], "url_hash long")
    missed = flag_maybe_seen(all_df, f2, bloom, N_BUCKETS).filter(~F.col("maybe_seen")).count()
    assert missed == 0
    counts = {r["bucket"]: r["n_items"] for r in f2.collect()}
    assert sum(counts.values()) == len(seen)


def test_shared_insert_writes_scalar_bloom_blobs(spark, hash_sets):
    """Pins the seen_filters Bloom format: per bucket, the blob written
    by the shared insert — a wave-0 build followed by a wave's insert —
    is byte-equal to one built key by key with ``bloom.scalar_insert``,
    with the same n_items / m_bits / k."""
    seen, _ = hash_sets
    keys = [int(h) for h in seen[:600]]
    expected_items = 400

    def frame(hs):
        return spark.createDataFrame([(h,) for h in hs], "url_hash long")

    filters = insert_filters(
        _build(spark, frame(keys[:400]), bloom, n_buckets=N_BUCKETS,
               expected_items=expected_items, fpr=FPR),
        frame(keys[400:]), bloom, N_BUCKETS, expected_items=expected_items, fpr=FPR,
    )
    got = {r["bucket"]: r for r in filters.collect()}

    m, k = bloom.size_filter(expected_items // N_BUCKETS, FPR)
    assert sorted(got) == sorted({h % N_BUCKETS for h in keys})
    for b, row in got.items():
        in_bucket = [h for h in keys if h % N_BUCKETS == b]
        blob = bytearray(m // 8)
        for h in in_bucket:
            bloom.scalar_insert(blob, h, m, k)
        assert (row["n_items"], row["m_bits"], row["k"]) == (len(in_bucket), m, k)
        assert bytes(row["filter_blob"]) == bytes(blob), b


def test_crawl_with_bloom_equals_exact_path(spark, corpus, tmp_path_factory):
    """End-to-end regression for the wave-0 filter-staging bug: bootstrap()
    must seed the Bloom filters from seen0, otherwise seed URLs are
    invisible to the prefilter, bypass the exact confirm join, and re-enter
    seen/frontier as duplicates. The bloom-accelerated crawl must be
    state-identical to the exact-path crawl, and seen must stay unique."""
    from crawler_spark.wave import CrawlConfig, CrawlEngine

    corpus_dir = corpus["dir"]

    def run(use_bloom, work):
        eng = CrawlEngine(
            spark,
            str(work),
            pages=spark.read.parquet(f"{corpus_dir}/pages.parquet"),
            seeds=spark.read.parquet(f"{corpus_dir}/seeds.parquet"),
            robots=spark.read.parquet(f"{corpus_dir}/robots.parquet"),
            config=CrawlConfig(
                mode="fifo", batch_size=20, metrics=False, use_bloom=use_bloom,
                n_buckets=N_BUCKETS, bloom_expected_items=20_000,
            ),
        )
        eng.bootstrap()
        for _ in range(4):
            eng.run_wave()
        return eng

    exact = run(False, tmp_path_factory.mktemp("crawl_exact"))
    fast = run(True, tmp_path_factory.mktemp("crawl_bloom"))

    seen_fast = fast.cat.read("seen")
    n_rows = seen_fast.count()
    n_keys = seen_fast.select("site_id", "url_hash").distinct().count()
    assert n_rows == n_keys  # no duplicate seen entries (the bug's symptom)

    def sig(eng, table, cols):
        return sorted(tuple(r[c] for c in cols) for r in eng.cat.read(table).collect())

    assert sig(fast, "seen", ["site_id", "url_hash"]) == sig(
        exact, "seen", ["site_id", "url_hash"]
    )
    assert sig(fast, "frontier", ["site_id", "canonical_url", "state", "seq"]) == sig(
        exact, "frontier", ["site_id", "canonical_url", "state", "seq"]
    )


def test_cuckoo_insert_contains_delete(hash_sets):
    seen, fresh = hash_sets
    f = CuckooFilter(n_slots_log2=14)  # 16384*4 slots for 20k items
    for h in seen.tolist():
        assert f.insert(int(h))
    assert f.contains_many(seen).all()  # no false negatives
    fpr = f.contains_many(fresh).mean()
    assert fpr < 0.01, fpr  # 16-bit fingerprints → tiny FPR
    # roundtrip through bytes (the filters-table blob path)
    f2 = CuckooFilter.from_bytes(f.to_bytes(), f.n_items)
    assert f2.contains_many(seen).all()
    # deletion (bloom can't do this)
    for h in seen[:100].tolist():
        assert f2.delete(int(h))
    assert not f2.contains_many(seen[:100]).all()


def test_cuckoo_saturation_degrades_without_false_negatives(spark, hash_sets):
    """An over-capacity cuckoo bucket degrades to all-maybe-seen (every
    candidate pays the exact confirm) instead of killing the wave — the
    cuckoo analog of Bloom FPR drift. No false negatives either way."""
    seen, fresh = hash_sets
    seen = seen[:5000]
    seen_df = spark.createDataFrame(
        [("s", int(h)) for h in seen], "site_id string, url_hash long"
    )
    # expected_items 256 across 8 buckets → ~64 slots/bucket vs ~625
    # actual keys/bucket: every bucket saturates
    filters = _build(
        spark, seen_df, cuckoo, n_buckets=N_BUCKETS, expected_items=256
    ).persist()
    n_items = [r["n_items"] for r in filters.select("n_items").collect()]
    assert all(n < 0 for n in n_items), n_items  # saturated sentinel
    # saturated bucket: every candidate flagged maybe-seen → exact confirm
    cand = spark.createDataFrame(
        [("s", int(h)) for h in np.concatenate([seen[:500], fresh[:500]])],
        "site_id string, url_hash long",
    )
    assert flag_maybe_seen(cand, filters, cuckoo, N_BUCKETS).filter(
        ~F.col("maybe_seen")
    ).count() == 0
    got = sorted(
        r["url_hash"]
        for r in filtered_anti_join_seen(
            cand, seen_df, filters, cuckoo, N_BUCKETS
        ).collect()
    )
    assert got == sorted(int(h) for h in fresh[:500])  # exact-path result
    # a saturated bucket stays saturated through an update
    more = spark.createDataFrame([(int(h),) for h in fresh[500:600]], "url_hash long")
    upd = insert_filters(filters, more, cuckoo, n_buckets=N_BUCKETS, expected_items=256)
    assert all(r["n_items"] < 0 for r in upd.select("n_items").collect())
    filters.unpersist()


def test_wave_prunes_filter_read_to_candidate_buckets(
    spark, corpus, tmp_path_factory, monkeypatch
):
    """The per-wave Bloom-blob read must be bucket-pruned exactly like the
    exact seen read: candidates in bucket b can only probe bucket b's
    blob, so an unpruned read ships the entire filter state (≈12 GB at
    10^10 keys) through the cogroup shuffle EVERY wave. Pins: (1) the
    wave loop never whole-reads seen_filters, (2) its read_buckets call
    uses the same candidate-bucket list as the exact seen read."""
    from crawler_spark.tableio import TableCatalog
    from crawler_spark.wave import CrawlConfig, CrawlEngine

    corpus_dir = corpus["dir"]
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("bloom_prune")),
        pages=spark.read.parquet(f"{corpus_dir}/pages.parquet"),
        seeds=spark.read.parquet(f"{corpus_dir}/seeds.parquet"),
        config=CrawlConfig(
            mode="fifo", batch_size=20, metrics=False, use_bloom=True,
            n_buckets=N_BUCKETS, bloom_expected_items=20_000,
        ),
    )
    eng.bootstrap()

    calls: list[tuple[str, list[int]]] = []
    orig_rb = TableCatalog.read_buckets
    orig_read = TableCatalog.read

    def spy_read_buckets(self, name, buckets, schema=None):
        calls.append((name, sorted(set(buckets))))
        return orig_rb(self, name, buckets, schema)

    def guard_read(self, name, schema=None):
        assert name != "seen_filters", (
            "wave loop whole-read seen_filters — the blob read regressed "
            "to O(total seen state) per wave"
        )
        return orig_read(self, name, schema)

    monkeypatch.setattr(TableCatalog, "read_buckets", spy_read_buckets)
    monkeypatch.setattr(TableCatalog, "read", guard_read)
    for _ in range(2):
        eng.run_wave()

    filt = [b for n, b in calls if n == "seen_filters"]
    seen = [b for n, b in calls if n == "seen"]
    assert filt, "seen_filters was never read via read_buckets"
    assert filt == seen  # identical pruning predicate on both reads


def test_crawl_with_cuckoo_equals_exact_path(spark, corpus, tmp_path_factory):
    """North-rule 'bloom (fallback cuckoo)': the cuckoo-backed seen
    prefilter must drive the FULL crawl loop (build → per-wave probe →
    per-wave update through the bucket-pruned read path) to exactly the
    state the exact-anti-join crawl reaches — the fallback is exercised
    end-to-end, not just at the filter-op level."""
    from crawler_spark.wave import CrawlConfig, CrawlEngine

    corpus_dir = corpus["dir"]

    def run(kind, work):
        eng = CrawlEngine(
            spark,
            str(work),
            pages=spark.read.parquet(f"{corpus_dir}/pages.parquet"),
            seeds=spark.read.parquet(f"{corpus_dir}/seeds.parquet"),
            robots=spark.read.parquet(f"{corpus_dir}/robots.parquet"),
            config=CrawlConfig(
                mode="fifo", batch_size=20, metrics=False,
                use_bloom=kind is not None, seen_filter_kind=kind or "bloom",
                n_buckets=N_BUCKETS, bloom_expected_items=20_000,
            ),
        )
        eng.bootstrap()
        for _ in range(4):
            eng.run_wave()
        return eng

    exact = run(None, tmp_path_factory.mktemp("crawl_exact_ck"))
    cuckoo = run("cuckoo", tmp_path_factory.mktemp("crawl_cuckoo"))

    def sig(eng, table, cols):
        return sorted(tuple(r[c] for c in cols) for r in eng.cat.read(table).collect())

    assert sig(cuckoo, "seen", ["site_id", "url_hash"]) == sig(
        exact, "seen", ["site_id", "url_hash"]
    )
    assert sig(
        cuckoo, "frontier", ["site_id", "canonical_url", "state", "seq"]
    ) == sig(exact, "frontier", ["site_id", "canonical_url", "state", "seq"])
    # the filters table really is cuckoo blobs (k = slots/bucket marker)
    filt = cuckoo.cat.read("seen_filters").collect()
    assert filt and all(r["k"] == 4 for r in filt)
    total = sum(r["n_items"] for r in filt)
    assert total == len(sig(cuckoo, "seen", ["url_hash"]))


def test_bloom_wave_runs_probe_cogroup_once(spark, corpus, tmp_path_factory, in_job_group):
    """The wave checkpoints the admit phase's output and the confirm join
    reads one probe pass: the probe cogroup is planned in exactly one SQL
    execution of the wave, once. (Two filtered branches over the probe
    ran it once per branch, in every job that consumed the admitted
    rows.)"""
    from crawler_spark.wave import CrawlConfig, CrawlEngine

    corpus_dir = corpus["dir"]
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("bloom_once")),
        pages=spark.read.parquet(f"{corpus_dir}/pages.parquet"),
        seeds=spark.read.parquet(f"{corpus_dir}/seeds.parquet"),
        config=CrawlConfig(
            mode="fifo", batch_size=20, metrics=False, use_bloom=True,
            distributed_seq=True, n_buckets=N_BUCKETS, bloom_expected_items=20_000,
        ),
    )
    eng.bootstrap()
    res, nodes = in_job_group(eng.run_wave)
    assert res["batch"] > 0
    probes = [
        d for n, d in nodes if n.startswith("FlatMapCoGroupsInPandas") and "<lambda>(" in d
    ]
    assert len(probes) == 1, probes
