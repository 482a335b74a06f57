"""The benchmark's workloads: inputs from a seed, set-up, one operation,
and a correctness check against known answers.

Each workload drives ``crawler_spark`` only through its public API and
hands the engine only generated tables and files. Inputs are cached on
disk by workload, seed and size, so a repeated seed skips generation;
generation is never part of ``setup_s``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
from datetime import timedelta

import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes at --scale 1. A wave costs mostly a fixed driver-side
# amount on this engine (~35 jobs and their planning), and set-up plus the
# warm-up wave cost ~40 s, so the benchmark's run budget (~70 s a run)
# leaves room for few, modest operations.
STEADY_PAGES = 1000
STEADY_PAGE_SCALE = 4
STEADY_BATCH = 300
WARC_PAGES = 800
WARC_PAGE_SCALE = 2
# share of base pages that get an older capture with other content, and
# share that get a mirror copy under another host
WARC_STALE_SHARE = 0.10
WARC_MIRROR_SHARE = 0.05
# the archive holding a quarter of the WARC collection (the warm-up input)
WARMUP_ARCHIVE = "part-00000.warc.gz"


def _generate_corpus(out_dir: str, n_pages: int, seed: int, page_scale: int) -> None:
    from crawler_spark.synthgen import generate_corpus

    os.makedirs(out_dir, exist_ok=True)  # generate_corpus does not create it
    generate_corpus(
        out_dir,
        n_pages=n_pages,
        n_hosts=max(6, n_pages // 2000),
        seed=seed,
        page_scale=page_scale,
    )


def _cached(path: str, build) -> None:
    """Build ``path`` once; a ``_done`` marker makes half-built caches
    (an interrupted run) rebuild instead of being reused."""
    if not os.path.exists(os.path.join(path, "_done")):
        shutil.rmtree(path, ignore_errors=True)
        build(path)
        with open(os.path.join(path, "_done"), "w") as f:
            f.write("ok")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _shingles(text: str, n: int = 3) -> set[str]:
    """Word 3-gram set: the Jaccard oracle for reported duplicate pairs."""
    words = text.split()
    if len(words) < n:
        return {" ".join(words)} if words else set()
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


class SteadyWave:
    """bootstrap_full_frontier() over template pages: every page is a
    pending frontier row and already in the seen set, in priority mode
    with the Bloom seen filter and distributed seq assignment, as in
    bench.py's crawl leg. One operation is one ``run_wave()``."""

    name = "steady-wave"
    crawl = True
    inputs_need_spark = False

    def __init__(self, cache_dir: str, work_dir: str, seed: int, scale: float):
        self.seed = seed
        self.n_pages = max(60, int(STEADY_PAGES * scale))
        self.batch = max(10, int(STEADY_BATCH * scale))
        self.page_scale = STEADY_PAGE_SCALE if scale >= 1 else 1
        self.corpus = os.path.join(
            cache_dir, f"steady-wave-s{seed}-n{self.n_pages}-p{self.page_scale}"
        )
        self.work_dir = work_dir
        self.waves: list[dict] = []

    def inputs(self, spark=None) -> None:
        _cached(
            self.corpus,
            lambda d: _generate_corpus(d, self.n_pages, self.seed, self.page_scale),
        )

    def setup(self, spark, n_parts: int) -> None:
        from crawler_spark.wave import CrawlConfig, CrawlEngine

        self.spark = spark
        self.pages = spark.read.parquet(f"{self.corpus}/pages.parquet")
        self.engine = CrawlEngine(
            spark,
            self.work_dir,
            pages=self.pages,
            seeds=spark.read.parquet(f"{self.corpus}/seeds.parquet").limit(1),
            robots=spark.read.parquet(f"{self.corpus}/robots.parquet"),
            config=CrawlConfig(
                mode="priority",
                batch_size=self.batch,
                wave_seconds=1e6,
                same_domain_only=False,
                use_bloom=True,
                distributed_seq=True,
                metrics=False,
                n_buckets=n_parts,
            ),
        )
        self.engine.bootstrap_full_frontier()

    def max_ops(self) -> int:
        # the frontier must not run dry: waves select from the corpus
        return max(1, self.n_pages // self.batch - 1)

    def catalog(self):
        return self.engine.cat

    def op(self, warmup: bool = False) -> dict:
        # the warm-up wave is an ordinary wave
        res = self.engine.run_wave()
        self.waves.append(res)
        return {"urls": res.get("batch", 0), "docs": res.get("fetched", 0)}

    def after_op(self) -> None:
        pass

    def check(self) -> tuple[set[int], dict[int, dict]]:
        """Failed operation indices, plus per-operation counts for the
        trace (admitted URLs per wave).

        Known answers: each selected URL has exactly one terminal frontier
        row, and a wave's terminal rows equal its batch; the seen set holds
        every frontier URL; crawled text equals the corpus ``text`` column
        byte for byte."""
        from pyspark.sql import functions as F

        from crawler_spark import schemas

        eng = self.engine
        wave_of = {res["wave"]: i for i, res in enumerate(self.waves)}
        failed: set[int] = set()

        def flag(ops, why: str) -> None:
            ops = set(ops)
            if ops:
                log(f"check failed for operations {sorted(ops)}: {why}")
                failed.update(ops)

        frontier_log = eng.frontier_log_full()
        terminal = frontier_log.filter(F.col("state") != "pending")
        # rows a wave consumes without selecting them (robots-blocked,
        # KB-gated) are terminal too, but are not part of its batch
        fetched = terminal.filter(~F.col("state").isin("robots_blocked", "gated_kb"))
        per_wave = {
            r["processed_wave"]: r["n"]
            for r in fetched.groupBy("processed_wave").agg(F.count("*").alias("n")).collect()
        }
        flag(
            (i for w, i in wave_of.items() if per_wave.get(w, 0) != self.waves[i].get("batch", 0)),
            "fetch-outcome frontier rows differ from the wave's batch",
        )
        dup = (
            terminal.groupBy("url_hash")
            .agg(F.count("*").alias("n"), F.collect_set("processed_wave").alias("w"))
            .filter(F.col("n") > 1)
            .collect()
        )
        flag((wave_of[w] for r in dup for w in r["w"] if w in wave_of), "URL with two terminal rows")

        seen = eng.cat.read("seen", schemas.SEEN).select("url_hash")
        unseen = [
            r[0]
            for r in frontier_log.select("url_hash", "discovered_wave")
            .join(seen, "url_hash", "left_anti")
            .select("discovered_wave")
            .distinct()
            .collect()
        ]
        # a bootstrap (wave 0) URL missing from seen breaks every wave
        flag(
            (i for w, i in wave_of.items() if w in unseen or any(u not in wave_of for u in unseen)),
            "frontier URL missing from the seen set",
        )

        crawled = eng.cat.read("crawled", schemas.CRAWLED)
        bad = (
            crawled.join(
                self.pages.select(
                    F.col("url").alias("canonical_url"), F.col("text").alias("_want")
                ),
                "canonical_url",
                "left",
            )
            .filter(~F.col("text").eqNullSafe(F.col("_want")))
            .select("wave")
            .distinct()
            .collect()
        )
        flag((wave_of[r["wave"]] for r in bad if r["wave"] in wave_of), "extracted text differs")

        admitted = {
            r["discovered_wave"]: r["n"]
            for r in frontier_log.filter(F.col("state") == "pending")
            .groupBy("discovered_wave")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        extras = {i: {"seen.admitted": admitted.get(w, 0)} for w, i in wave_of.items()}
        return failed, extras

    def close(self) -> None:
        shutil.rmtree(self.work_dir, ignore_errors=True)


class WarcCurate:
    """Gzipped WARC archives with repeated captures and mirrored pages,
    run through read_warc -> latest_captures -> extract_udf ->
    minhash_dedup_pairs -> run_cascade -> gopher_stats and pii_redact on
    the packets, with one labelled result table written once. One
    operation is one pass of the whole pipeline; the warm-up pass reads
    only the warm-up shard (a quarter of the collection)."""

    name = "warc-curate"
    crawl = False
    inputs_need_spark = True

    def __init__(self, cache_dir: str, work_dir: str, seed: int, scale: float):
        self.seed = seed
        self.n_pages = max(60, int(WARC_PAGES * scale))
        self.page_scale = WARC_PAGE_SCALE if scale >= 1 else 1
        self.inputs_dir = os.path.join(
            cache_dir, f"warc-curate-s{seed}-n{self.n_pages}-p{self.page_scale}"
        )
        self.work_dir = work_dir
        self.results: list[dict] = []

    # -- inputs -------------------------------------------------------------

    def inputs(self, spark) -> None:
        _cached(self.inputs_dir, lambda d: self._build_inputs(spark, d))
        with open(os.path.join(self.inputs_dir, "meta.json")) as f:
            self.meta = json.load(f)
        t = pq.read_table(f"{self.inputs_dir}/expected.parquet").to_pydict()
        self.texts = dict(zip(t["url"], t["text"]))

    def _build_inputs(self, spark, out: str) -> None:
        """Corpus pages, older captures and mirrors, written by one
        ``export_warc`` call as four archives. The first holds a quarter of
        the pages (the warm-up pass reads only it); a page's older capture
        and its mirror stay in the page's archive, so both the warm-up
        archive and the whole collection have a known structure."""
        from crawler_spark.sources.warc import export_warc

        corpus = os.path.join(out, "corpus")
        _generate_corpus(corpus, self.n_pages, self.seed, self.page_scale)
        pages = pq.read_table(f"{corpus}/pages.parquet").to_pylist()
        rng = random.Random(self.seed)
        n = len(pages)
        warm = set(rng.sample(range(n), n // 4))
        stale = rng.sample(range(n), int(n * WARC_STALE_SHARE))
        # mirror only pages with enough words for a MinHash signature
        mirrorable = [i for i, p in enumerate(pages) if len(p["text"].split()) >= 20]
        mirrors = rng.sample(mirrorable, min(len(mirrorable), int(n * WARC_MIRROR_SHARE)))

        records = [(i, p["url"], p["warc_ts"], p["html"]) for i, p in enumerate(pages)]
        # an older capture of the same URL with another page's content:
        # latest_captures must pick the newer one
        records += [
            (i, pages[i]["url"], pages[i]["warc_ts"] - timedelta(days=1), pages[(i + 1) % n]["html"])
            for i in stale
        ]
        expected = {p["url"]: (p["text"], i in warm) for i, p in enumerate(pages)}
        pairs = []
        for k, i in enumerate(mirrors):
            url = f"https://mirror{k % 3}.example.net/{k}/{pages[i]['url'].split('://', 1)[1]}"
            records.append((i, url, pages[i]["warc_ts"] + timedelta(hours=1), pages[i]["html"]))
            expected[url] = (pages[i]["text"], i in warm)
            pairs.append((sorted([pages[i]["url"], url]), i in warm))
        rng.shuffle(records)
        pq.write_table(
            pa.table(
                {
                    "url": list(expected),
                    "text": [t for t, _ in expected.values()],
                    "warmup": [w for _, w in expected.values()],
                }
            ),
            f"{out}/expected.parquet",
        )

        def frame(in_warm: bool):
            rows = [r for r in records if (r[0] in warm) == in_warm]
            path = f"{out}/{'warmup' if in_warm else 'main'}.parquet"
            pq.write_table(
                pa.table(
                    {
                        "url": [r[1] for r in rows],
                        "warc_ts": pa.array([r[2] for r in rows], pa.timestamp("us", tz="UTC")),
                        "html": pa.array([r[3] for r in rows], pa.binary()),
                    }
                ),
                path,
            )
            return spark.read.parquet(path), len(rows)

        # one export: partition 0 (the warm-up shard) becomes part-00000,
        # the other three partitions the rest of the collection
        warm_df, warm_n = frame(True)
        main_df, main_n = frame(False)
        manifest = export_warc(
            warm_df.coalesce(1).union(main_df.repartition(3)), f"{out}/warc", gzipped=True
        )
        size = {os.path.basename(m["path"]): m["n_bytes"] for m in manifest}
        meta = {}
        for shard, in_warm, n_rows in (("warmup", True, warm_n), ("all", None, warm_n + main_n)):
            meta[shard] = {
                "records": n_rows,
                "urls": sum(in_warm in (None, w) for _, w in expected.values()),
                "mirror_pairs": [p for p, w in pairs if in_warm in (None, w)],
                "archive_bytes": size[WARMUP_ARCHIVE] if in_warm else sum(size.values()),
            }
        meta["stale_captures"] = len(stale)
        with open(f"{out}/meta.json", "w") as f:
            json.dump(meta, f)

    # -- run ------------------------------------------------------------------

    def setup(self, spark, n_parts: int) -> None:
        from pyspark.sql import functions as F

        self.spark = spark
        seeds = spark.read.parquet(f"{self.inputs_dir}/corpus/seeds.parquet")
        self.site = seeds.select("site_id").first()["site_id"]
        self.seeds = seeds.filter(F.col("site_id") == self.site)
        self.expected = spark.read.parquet(f"{self.inputs_dir}/expected.parquet")

    def max_ops(self) -> int:
        return 1000

    def catalog(self):
        return None

    def op(self, warmup: bool = False) -> dict:
        from pyspark.sql import functions as F

        from crawler_spark.functions.html_extract import extract_udf
        from crawler_spark.operators.cascade import run_cascade
        from crawler_spark.operators.curation import gopher_stats, pii_redact
        from crawler_spark.operators.dedup import minhash_dedup_pairs
        from crawler_spark.sources.warc import latest_captures, read_warc

        spark = self.spark
        idx = len(self.results)
        scope = "warmup" if warmup else "all"
        path = f"{self.inputs_dir}/warc" + (f"/{WARMUP_ARCHIVE}" if warmup else "")
        docs = (
            latest_captures(read_warc(spark, path))
            .select(
                F.col("url").alias("doc_id"),
                extract_udf("html", "url", F.lit("")).alias("ex"),
            )
            .select("doc_id", F.col("ex.title").alias("title"), F.col("ex.text").alias("text"))
            .persist()
        )
        pairs = [
            tuple(r) for r in minhash_dedup_pairs(docs.select("doc_id", "text")).collect()
        ]
        drop = sorted({b for _, b, _ in pairs})
        kept = docs.filter(~F.col("doc_id").isin(drop))
        crawled = kept.select(
            F.lit(self.site).alias("site_id"),
            F.col("doc_id").alias("canonical_url"),
            F.xxhash64("doc_id").alias("url_hash"),
            "title",
            "text",
            F.sha2("text", 256).alias("content_hash"),
        )
        cascade = run_cascade(crawled, self.seeds, idx)
        packets = cascade["packets"]
        kw = {"text_col": "extracted_text", "id_col": "content_url"}
        # one labelled row per rejected document, and two per packet: its
        # Gopher verdict and its PII-redacted text
        result = (
            cascade["rejected"].select(
                F.col("reason").alias("label"), F.col("canonical_url").alias("url"),
                F.lit(None).cast("string").alias("text"),
            )
            .unionByName(
                gopher_stats(packets, **kw).select(
                    F.when(F.col("gopher_pass") == 1, "gopher_pass")
                    .otherwise("gopher_fail")
                    .alias("label"),
                    F.col("content_url").alias("url"),
                    F.lit(None).cast("string").alias("text"),
                )
            )
            .unionByName(
                pii_redact(packets, **kw).select(
                    F.lit("redacted").alias("label"), F.col("content_url").alias("url"),
                    F.col("redacted").alias("text"),
                )
            )
        )
        result.write.mode("overwrite").parquet(self._result_path(idx))
        self.results.append({"docs": docs, "pairs": pairs, "scope": scope})
        meta = self.meta[scope]
        return {"urls": meta["urls"], "docs": meta["records"]}

    def _result_path(self, idx: int) -> str:
        return os.path.join(self.work_dir, f"result-{idx}")

    def after_op(self) -> None:
        """Check the operation that just ran, then release its cached frame.

        Known answers: one row per distinct URL, with the text of its
        newest capture equal to the corpus text byte for byte; every
        mirror pair reported as a duplicate and every reported pair a true
        >= 0.8 word-3-gram Jaccard pair; and a written result in which every
        document that survived dedup has exactly one reject reason or Gopher
        verdict, and every packet exactly one redacted text."""
        from pyspark.sql import functions as F

        idx = len(self.results) - 1
        res = self.results[idx]
        docs, meta = res.pop("docs"), self.meta[res["scope"]]
        expected = self.expected
        if res["scope"] == "warmup":
            expected = expected.filter("warmup")
        want_text = expected.select(
            F.col("url").alias("doc_id"), F.col("text").alias("_want")
        )
        try:
            n_docs = docs.count()
            mismatched = (
                docs.join(want_text, "doc_id", "full_outer")
                .filter(~F.col("text").eqNullSafe(F.col("_want")))
                .limit(1)
                .count()
            )
        finally:
            docs.unpersist()
        want = {tuple(p) for p in meta["mirror_pairs"]}
        got = {(a, b) for a, b, _ in res["pairs"]}
        ok = mismatched == 0 and n_docs == meta["urls"] and want <= got
        for a, b in got - want:
            sa, sb = _shingles(self.texts.get(a, "")), _shingles(self.texts.get(b, ""))
            ok &= bool(sa | sb) and len(sa & sb) / len(sa | sb) >= 0.8
        rows = self.spark.read.parquet(self._result_path(idx))
        c = {
            r["label"]: (r["n"], r["urls"])
            for r in rows.groupBy("label")
            .agg(F.count("*").alias("n"), F.countDistinct("url").alias("urls"))
            .collect()
        }
        redacted = c.pop("redacted", (0, 0))
        passed, failed = c.get("gopher_pass", (0, 0))[0], c.get("gopher_fail", (0, 0))[0]
        packets = passed + failed
        cascade_in = n_docs - len({b for _, b in got})
        # every cascade input once (a reject reason or a Gopher verdict),
        # every packet redacted once
        verdict_urls = rows.filter(F.col("label") != "redacted").select("url").distinct()
        ok &= sum(n for n, _ in c.values()) == cascade_in == verdict_urls.count()
        ok &= redacted == (packets, packets)
        res["ok"] = bool(ok)
        res["extras"] = {
            "warc.bytes_read": meta["archive_bytes"],
            "dedup.confirmed_pairs": len(got),
            "cascade.rows_in": cascade_in,
            "cascade.pass_ratio": packets / max(1, cascade_in),
            "curation.rows_in": packets,
            "curation.kept_ratio": passed / max(1, packets),
        }

    def check(self) -> tuple[set[int], dict[int, dict]]:
        failed = {i for i, r in enumerate(self.results) if not r.get("ok")}
        return failed, {i: r.get("extras", {}) for i, r in enumerate(self.results)}

    def close(self) -> None:
        shutil.rmtree(self.work_dir, ignore_errors=True)


WORKLOADS = {w.name: w for w in (SteadyWave, WarcCurate)}
