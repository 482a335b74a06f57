"""The wave-synchronous crawl driver loop.

One wave = one Spark job DAG + one atomic commit set (SURVEY §7 design):

  select batch (KB gates + [robots + quota] + Window rank)
  → fetch (simulated: join against the pages table; production: the same
    stage is a mapInPandas HTTP fetcher over the batch)
  → extract (Arrow UDF, byte-parity surface)
  → ledger change-check → crawled delta
  → link expansion → canonicalize → in-wave dedup → anti-join seen
  → frontier/seen/site_stats update
  → [cascade: gates → packets/rejected, KB + ledger MERGE]
  → metrics (per-partition lineage) → atomic commit

Resume-from-checkpoint: every wave's outputs are committed through
:class:`crawler_spark.tableio.TableCatalog`; a killed run restarts at
``committed_wave + 1`` and produces bit-identical state (test-verified).
The per-wave materialization doubles as lineage truncation, so the
iterative loop's plans stay flat. Inside a wave, each phase's output is
an eager local checkpoint (:class:`_WaveCheckpoints`): the phase runs
once, later plans start from a leaf, and a lost executor fails the wave
(resume reruns it) instead of silently recomputing — or re-fetching —
part of it.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_spark import schemas
from crawler_spark.canon import canonicalize_udf, with_canonical_split
from crawler_spark.functions.html_extract import (
    extract_density_udf,
    extract_hybrid_udf,
    extract_udf,
)
from crawler_spark.functions.urlfns import content_hash, is_valid_url, netloc_of
from crawler_spark.operators.cascade import run_cascade
from crawler_spark.operators.frontier import (
    FIFO,
    PRIORITY,
    apply_kb_gates,
    assign_seq,
    select_wave_batch_fifo,
    select_wave_batch_priority,
)
from crawler_spark.operators.kb import merge_kb, wave_kb_delta
from crawler_spark.operators.politeness import host_quotas, robots_filter
from crawler_spark.operators.bloom import FILTERS_SCHEMA
from crawler_spark.operators.seen import anti_join_seen, dedup_in_wave
from crawler_spark.tableio import (
    APPEND,
    BUCKET_APPEND,
    BUCKET_REPLACE,
    REPLACE,
    TableCatalog,
)

FRONTIER_COLS = [f.name for f in schemas.FRONTIER.fields]


def resolve_frontier(log: DataFrame) -> DataFrame:
    """Current frontier state from the merge-on-read log: a key's
    terminal version (consumed rows transition exactly once) wins over
    its pending version; keys with only a pending version are live.
    After a resolved compaction this is a no-op by construction."""
    terminal = log.filter(F.col("state") != "pending")
    live = log.filter(F.col("state") == "pending").join(
        terminal.select("site_id", "url_hash"), ["site_id", "url_hash"], "left_anti"
    )
    return terminal.unionByName(live)


def resolve_ledger(log: DataFrame) -> DataFrame:
    """Latest ledger version per url_hash (max wave wins) → LEDGER shape."""
    return (
        log.groupBy("url_hash")
        .agg(F.max(F.struct("wave", "url", "content_hash")).alias("_s"))
        .select("url_hash", "_s.url", "_s.content_hash")
    )

def frontier_hot() -> Column:
    """Compaction routing predicate for the frontier log: hot = live
    pending rows, archive = resolved terminal rows. A frontier key
    appears pending at most once and terminal at most once (rows
    transition exactly once and the seen set stops re-discovery), so
    routing terminals out preserves the merge-on-read resolution: after
    the split, a hot pending row's terminal version — if it exists at
    all — is always in a post-compaction delta. (A function, not a
    module constant: building a Column requires an active session.)"""
    return F.col("state") == "pending"


_PROFILE = os.environ.get("SPARK_GRAFT_PROFILE", "0") != "0"

# Serializes run_wave's session-scoped AQE save/toggle/restore across
# engines sharing one SparkSession (see run_wave docstring).
_WAVE_CONF_LOCK = threading.Lock()


class _T:
    """Env-gated section timer for wave profiling."""

    def __init__(self, label):
        self.label = label

    def __enter__(self):
        self.t0 = time.time()

    def __exit__(self, *a):
        if _PROFILE:
            print(f"    [{self.label}] {time.time() - self.t0:.2f}s", flush=True)


class _WaveCheckpoints:
    """A wave's plan boundaries: eager local checkpoints of each phase's
    output, released together when the wave returns.

    A checkpointed frame is a leaf: the phase runs exactly once, inside
    the checkpoint's own action, and later plans are analysed against
    the leaf instead of the lineage back to the frontier-log scan.
    ``eager=True`` matters: a lazy checkpoint runs its tasks after its
    SQL execution has ended, when the accumulators are gone, and the
    phase's operator metrics (extract UDF, Bloom probe) are lost.
    ``DataFrame.unpersist()`` does not free a checkpoint's blocks, so
    :meth:`release` unpersists the backing RDDs."""

    def __init__(self, spark: SparkSession):
        self._sc = spark.sparkContext._jsc.sc()
        self._rdd_ids: list[int] = []

    def take(self, label: str, df: DataFrame) -> DataFrame:
        with _T(label):
            cp = df.localCheckpoint(eager=True)
        self._rdd_ids.append(cp._jdf.queryExecution().logical().rdd().id())
        return cp

    def release(self) -> None:
        # SparkContext.unpersistRDD frees the same blocks as
        # RDD.unpersist without its per-RDD "cannot be recomputed" warning
        for rdd_id in self._rdd_ids:
            self._sc.unpersistRDD(rdd_id, False)
        self._rdd_ids.clear()


@dataclass
class CrawlConfig:
    mode: str = FIFO                  # fifo (reference parity) | priority
    batch_size: int | None = None     # None → reference min(20, max_pages//5)
    link_cap: int = 50                # Q6 (fast_crawler_agent.py:242)
    wave_seconds: float = 20.0        # politeness budget window (priority mode)
    cascade: bool = False             # run the phase-2 filter cascade per wave
    curate: bool = False              # gopher-gate + PII-redact packets
    #                                   before they are committed (needs
    #                                   cascade; same stage the streaming
    #                                   worker runs under curate=True)
    relevance_threshold: float = 0.6
    n_buckets: int = 32               # url_hash buckets for the seen anti-join
    metrics: bool = True
    # True = reference semantics (crawl stays on the seed's netloc);
    # False = open Common-Crawl-style multi-host frontier (north rule).
    same_domain_only: bool = True
    # Bloom-prefiltered seen anti-join (the 10^10-scale fast path). The
    # exact anti-join remains the correctness oracle either way.
    use_bloom: bool = False
    bloom_fpr: float = 0.01
    bloom_expected_items: int = 1_000_000
    # which probabilistic filter backs the seen prefilter when use_bloom
    # is on: 'bloom' (hot default) or 'cuckoo' (north-rule fallback —
    # supports deletion, fixed ~1.2e−4 fingerprint FPR). Both share the
    # seen_filters table layout and the exact-confirm composition, so
    # crawl state is identical either way (test-pinned).
    seen_filter_kind: str = "bloom"
    # table storage: 'parquet' (JSON-checkpoint catalog, sandbox default)
    # or 'iceberg' (workdir is then a catalog.namespace identifier;
    # jar-gated — see tableio_iceberg.py / docs/ICEBERG.md)
    catalog_backend: str = "parquet"
    # two-phase distributed seq assignment (no single-partition sort);
    # bit-identical to the Window path, used for huge waves
    distributed_seq: bool = False
    # extraction strategy: 'selector' (HP extractor parity, E1-E6),
    # 'density' (link-density scoring variant, E4), or 'hybrid'
    # (selector content + context-enriched links, hybrid_extractor.py)
    extractor: str = "selector"
    # fetch stage: 'simulated' (join vs the pages table — deterministic,
    # the parity oracle; requires a pages DataFrame) or 'http' (the
    # production mapInPandas fetcher, operators/fetch.py — reference
    # keep-rules: 200 ∧ text/html, utf-8 errors ignored downstream).
    # Both produce the same shape (batch columns + _html binary), so
    # everything after the fetch stage is identical.
    fetch_mode: str = "simulated"
    # kwargs passed through to operators.fetch.http_fetch
    # (timeout_s, max_concurrency, per_host, user_agent, max_bytes)
    http_opts: dict | None = None
    # archive every successfully fetched page of every wave as
    # Common-Crawl-layout WARC under this directory (wave-{N:05d}/
    # subdirs, sources/warc.export_warc) — how a production crawl
    # produces the corpus it later re-ingests. http fetch mode only
    # (a simulated crawl's pages table IS the archive already).
    warc_out: str | None = None
    # politeness rules source: 'table' (a provided robots DataFrame —
    # deterministic, the parity oracle) or 'http' (fetch + parse each
    # distinct seed host's /robots.txt at init, operators/robots.py)
    robots_mode: str = "table"
    # robots cache lifetime (http mode only): before each wave, hosts
    # whose robots.txt fetch is older than this are re-fetched and the
    # compiled rule dim rebuilt, so changed rules take effect mid-crawl
    # without an engine restart (RFC 9309 §2.4 allows caching "generally
    # up to 24 hours" — the default). 0 disables refresh (fetch-once).
    # Table mode never refreshes: the provided frame is the parity
    # oracle and must stay bit-stable.
    robots_ttl_s: float = 24 * 3600.0
    # seed the wave-0 frontier from each host's sitemaps (robots.txt
    # Sitemap: directives, /sitemap.xml fallback, one sitemapindex
    # level — operators/sitemaps.py). Live-HTTP bootstrap: discovered
    # URLs enter as depth-1 children of their seed through the same
    # validity/canonicalize/dedup gates as link-discovered URLs.
    sitemap_seeding: bool = False
    # attachment stage (S3/E9/S7): 'off' (default — crawl parity corpora
    # carry no attachment payloads), 'http' (fetch binaries for real via
    # http_fetch_attachments), or 'table' (simulated: look payloads up
    # in the engine's attachments DataFrame — the deterministic oracle).
    # When on, each crawled page's text gains the reference's attachment
    # text blocks in link-document order, and fetch/parse failures land
    # in the failed_attachments table with their raw payload.
    attachments: str = "off"
    # every K waves, coalesce each state log's per-wave delta dirs into
    # one resolved dir (Iceberg compaction stand-in; bounds file-listing
    # cost and the superseded-row fraction). 0 = never.
    compact_every: int = 0
    # adaptive alternative (composable with compact_every): compact when
    # the terminal rows appended to the hot frontier log since the last
    # compaction exceed this fraction of the live pending set — the hot
    # log's waste fraction is then bounded by ~2×ratio regardless of wave
    # cadence (a fixed compact_every K lets small waves accrete K waves
    # of terminal history, and forces pointless rewrites on huge waves).
    # Counter rides the catalog meta, so it survives resume. 0 = off.
    compact_terminal_ratio: float = 0.0
    # AQE inside the wave hot loop. The wave's plans are fully
    # hand-partitioned — explicit n_buckets repartition on uniform
    # xxhash64 keys, plan-asserted broadcasts, salted host aggregates —
    # so AQE has nothing left to fix, while its per-shuffle-stage
    # re-optimization serializes on the driver (measured: ~25% of wave
    # wall time at local[16], 91 → 68 jobs/wave when disabled). Off by
    # default for waves; ad-hoc analytics on the same session keep
    # whatever the session sets. Re-enable if a corpus produces skewed
    # *join* keys the salting/bucketing scheme doesn't already cover.
    adaptive_in_wave: bool = False


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        pages: DataFrame | None,
        seeds: DataFrame,
        robots: DataFrame | None = None,
        kb_seed: DataFrame | None = None,
        ledger_seed: DataFrame | None = None,
        config: CrawlConfig | None = None,
        attachments: DataFrame | None = None,
    ):
        self.spark = spark
        self.config = config or CrawlConfig()
        self.pages = pages
        self.seeds_df = seeds
        # simulated attachment payloads (url, payload) for
        # config.attachments == 'table' — the parity oracle for the real
        # http fetch, exactly like pages vs fetch_mode='http'
        self.attachments_df = attachments
        if self.config.attachments == "table":
            assert attachments is not None, (
                "attachments='table' needs an attachments DataFrame (url, payload)"
            )
        # One shared robots.txt fetch feeds BOTH live-politeness rules and
        # sitemap discovery (enabling both costs one GET per host, not
        # two); materialized here because the per-wave robots_filter
        # broadcast / the bootstrap sitemap read must not re-hit the
        # network. The provided-table path stays the deterministic parity
        # oracle, like fetch_mode simulated/http.
        self._robots_raw = None
        # http_opts is sized for PAGE fetching; the robots/sitemap
        # bootstrap keeps its own deliberately conservative limits
        # (512 KiB robots cap, per_host=2) — forward only the keys that
        # mean the same thing at both layers
        _boot_opts = self._boot_opts = {
            k: v
            for k, v in (self.config.http_opts or {}).items()
            if k in ("timeout_s", "user_agent", "max_concurrency")
        }
        if self.config.robots_mode == "http" or self.config.sitemap_seeding:
            from crawler_spark.operators.robots import fetch_robots_raw

            self._robots_raw = fetch_robots_raw(seeds, **_boot_opts).persist()
        # per-host robots fetch timestamps (http mode): drive the TTL
        # refresh in _maybe_refresh_robots. Monotonic clock, swappable in
        # tests (a test advances time instead of sleeping a day).
        self._robots_clock = time.monotonic
        self._robots_fetched_at: dict[str, float] = {}
        if self.config.robots_mode == "http":
            assert robots is None, (
                "robots_mode='http' fetches rules from the live hosts; "
                "don't also pass a robots DataFrame"
            )
            from crawler_spark.operators.robots import robots_from_seeds

            self.robots_df = robots_from_seeds(
                spark, seeds, raw=self._robots_raw, **_boot_opts
            ).persist()
            self.robots_df.count()  # materialize: fetch exactly once
            now = self._robots_clock()
            self._robots_fetched_at = {
                r["host"]: now
                for r in seeds.select(
                    F.lower(F.parse_url("base_url", F.lit("HOST"))).alias("host")
                ).distinct().collect()
            }
        else:
            self.robots_df = robots if robots is not None else spark.createDataFrame(
                [], schemas.ROBOTS
            )
        # Rule patterns compile to their JVM match form (regexes for
        # */$ rules) ONCE per crawl, not once per wave: the compiled dim
        # is persisted so the per-wave robots_filter broadcast re-reads
        # a tiny cached table instead of re-running the Python compile
        # stage every wave.
        from crawler_spark.operators.politeness import compile_robots

        self._robots_rules = compile_robots(self.robots_df).persist()
        self._kb_seed = kb_seed
        self._ledger_seed = ledger_seed
        # The simulated web, pre-partitioned ONCE on xxhash64(url) buckets
        # and cached: every wave's fetch join is then co-partitioned and
        # never re-shuffles the (huge) pages side — the parquet stand-in
        # for an Iceberg storage-partitioned join on bucket(url_hash).
        # CONTRACT: one row per url. The fetch is an equi-join, so a
        # duplicated url fans one selected frontier row out into N fetch
        # rows (duplicate crawled/terminal rows, inflated metrics). WARC
        # collections DO capture urls repeatedly — dedup at the ingest
        # boundary (sources.latest_captures; run_crawl --warc applies it)
        # rather than forcing a full-table groupBy here on every init.
        # In http fetch mode there is no pages table: the fetch stage is
        # the real network (operators/fetch.py) behind the same interface.
        if pages is None:
            assert self.config.fetch_mode == "http", (
                "simulated fetch mode needs a pages DataFrame"
            )
            self._pages_fetch = None
        else:
            self._pages_fetch = (
                pages.select(
                    F.col("url").alias("_page_url"), F.col("html").alias("_html")
                )
                .withColumn("_page_hash", F.xxhash64("_page_url"))
                .repartition(self.config.n_buckets, F.col("_page_hash"))
                .persist()
            )

        # State tables are delta-committed: per-wave WRITE cost scales
        # with the wave's delta, never with accumulated crawl state
        # (Iceberg merge-on-read semantics over bucketed parquet):
        # * seen is append-only by construction → BUCKET_APPEND deltas;
        # * frontier rows transition exactly once (pending → terminal),
        #   so the frontier is an append-only LOG: each wave appends the
        #   terminal versions of consumed rows + newly discovered pending
        #   rows; reads resolve pending = pending-version anti-join
        #   terminal-keys. A bucket-REPLACE upsert would still rewrite
        #   min(k, B) × bucket-size bytes per wave (random hash keys
        #   touch ~every bucket), i.e. O(frontier) write amplification —
        #   the log append is O(delta). Compaction (compact_every)
        #   rewrites the log resolved, bounding read-side growth;
        # * ledger versions are keyed by wave → MOR log, latest wins;
        # * seen_filters blobs are fixed-size per bucket → per-bucket
        #   replace of only the blobs that gained keys;
        # * kb/site_stats are genuinely small → full snapshots.
        # The frontier log is a PLAIN append table: nothing bucket-prunes
        # it (reads are full pending scans), so bucket-partitioned deltas
        # would only explode file counts (~B tiny files per wave) for no
        # pruning benefit. seen/ledger DO get bucket-pruned reads → their
        # deltas keep the bucket(url_hash) layout.
        # Compaction splits the frontier log: live pending rows stay in
        # the hot log; resolved TERMINAL rows move to frontier_archive
        # (append-only history). Without the split, per-wave pending
        # scans read all-time crawl history — terminal rows dominate the
        # log at 10^10 URLs over thousands of waves even though per-wave
        # writes are O(delta). With it, the hot log is proportional to
        # the live frontier + deltas since the last compaction.
        B = self.config.n_buckets
        if self.config.catalog_backend == "parquet":
            cat = TableCatalog(spark, workdir)
        else:
            from crawler_spark.tableio_iceberg import make_catalog

            cat = make_catalog(spark, workdir, self.config.catalog_backend)
        cat.register("frontier", APPEND)
        cat.register("frontier_archive", APPEND)
        cat.register("seen", BUCKET_APPEND, n_buckets=B)
        cat.register("ledger", BUCKET_APPEND, n_buckets=B)
        cat.register(
            "seen_filters", BUCKET_REPLACE, bucket_key="bucket", key_is_bucket=True
        )
        for name, mode in [
            ("kb", REPLACE),
            ("site_stats", REPLACE),
            ("crawled", APPEND),
            ("packets", APPEND),
            ("rejected", APPEND),
            ("metrics", APPEND),
            ("failed_attachments", APPEND),
        ]:
            cat.register(name, mode)
        self.cat = cat

    def _attachment_blocks(self, changed, ckpt):
        """S3/E9/S7: classify each changed page's extracted links into
        attachment candidates, fetch their payloads (real http or the
        simulated table), parse to the reference's text blocks, and
        return (blocks, failures):

        * blocks — (url_hash, att_text): the page's attachment blocks
          concatenated in link-document order, ready to append to the
          crawled text (reference data_extractor.py:148-161 appends
          in-line during the link loop);
        * failures — (url, reason, payload): fetch- or parse-failed
          attachments for the failed_attachments sink (S7).

        Each distinct attachment URL is fetched and parsed ONCE per wave
        (distinct before the expensive stage), then joined back to every
        page that links it."""
        from crawler_spark.operators.attachments import (
            classify_attachment_links,
            parse_attachments,
        )

        att = (
            changed.select(
                F.col("url_hash").alias("page_hash"),
                # the linking PAGE's url is the resolution/same-host base:
                # it keeps the real scheme (http seeds stay http) and a
                # real host in open-crawl mode, where the site-level
                # base_netloc is the '*' sentinel and would never match
                F.col("canonical_url").alias("base_url"),
                F.posexplode("ex.links").alias("att_idx", "_l"),
            )
            .select(
                "page_hash", "base_url", "att_idx", F.col("_l.url").alias("url")
            )
        )
        att = classify_attachment_links(att, "url", "base_url").filter(
            F.col("is_attachment")
        ).select("page_hash", "att_idx", "attachment_url")

        uniq = att.select("attachment_url").distinct()
        if self.config.attachments == "http":
            from crawler_spark.operators.fetch import http_fetch_attachments

            payloads = http_fetch_attachments(
                uniq, "attachment_url", **(self.config.http_opts or {})
            ).select(
                F.col("attachment_url").alias("url"),
                F.col("_content").alias("payload"),
            )
        else:  # 'table' — the deterministic parity oracle
            payloads = uniq.join(
                F.broadcast(
                    self.attachments_df.select("url", "payload")
                ).withColumnRenamed("url", "attachment_url"),
                "attachment_url",
                "left",
            ).select(F.col("attachment_url").alias("url"), "payload")
        # Materialized before the consumers exist: blocks (→ crawled
        # stage job) and failures (→ failed_attachments stage job) both
        # read `parsed`, and the two stage jobs run concurrently — a lazy
        # cache would let racing tasks each compute the unfilled
        # partitions, fetching and parsing every attachment twice.
        payloads = ckpt.take("attachments.fetch", payloads)
        parsed = ckpt.take("attachments.parse", parse_attachments(payloads))
        blocks = (
            att.join(
                parsed.withColumnRenamed("url", "attachment_url"), "attachment_url"
            )
            .groupBy("page_hash")
            .agg(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("att_idx", "text_block"))
                        ),
                        lambda s: s["text_block"],
                    ),
                ).alias("att_text")
            )
            .withColumnRenamed("page_hash", "url_hash")
        )
        failures = (
            payloads.join(parsed.filter(~F.col("ok")).select("url"), "url", "left_semi")
            .select("url", F.lit("fetch_or_parse_failed").alias("reason"), "payload")
        )
        return blocks, failures

    def _filter_ops(self):
        """(build, update, anti_join) for the configured seen prefilter."""
        if self.config.seen_filter_kind == "cuckoo":
            from crawler_spark.operators import cuckoo as m

            return (
                m.build_cuckoo_filters,
                m.update_cuckoo_filters,
                m.cuckoo_anti_join_seen,
            )
        from crawler_spark.operators import bloom as m

        return m.build_filters, m.update_filters, m.bloom_anti_join_seen

    def _sitemap_rows(self, frontier0: DataFrame) -> DataFrame:
        """Sitemap-discovered wave-0 frontier rows (sitemap_seeding).

        Candidates flow through the SAME admission pipeline as
        link-discovered URLs (validity gate, canonical split, in-wave
        dedup) and are anti-joined against the seed rows; seq continues
        per site after the seed's seq 1, ordered by sitemap position.
        The per-site Window is bounded by sitemap_candidates'
        max_per_site cap — never frontier-sized."""
        from pyspark.sql import Window

        from crawler_spark.operators.sitemaps import sitemap_candidates

        cfg = self.config
        cand = sitemap_candidates(
            self.spark,
            self.seeds_df,
            robots_raw=self._robots_raw,
            # bootstrap-safe subset only: page-level max_bytes/per_host
            # must not override the sitemap fetcher's polite defaults
            **self._boot_opts,
        ).withColumn("parent_seq", F.lit(1).cast("long"))
        base = self.seeds_df.select(
            "site_id",
            (
                netloc_of(F.col("base_url"))
                if cfg.same_domain_only
                else F.lit("*")
            ).alias("base_netloc"),
        )
        cand = cand.join(F.broadcast(base), "site_id")
        if cfg.same_domain_only:
            validity = is_valid_url(F.col("url"), F.col("base_netloc"))
        else:
            validity = (
                F.parse_url(F.col("url"), F.lit("PROTOCOL")).isin("http", "https")
                & ~F.col("url").contains("#")
                & ~F.col("url").contains("javascript:void(0)")
            )
        valid = (
            with_canonical_split(cand.filter(validity).drop("base_netloc"), "url")
            .withColumn("url_hash", F.xxhash64("canonical_url"))
            .withColumn(
                "host", F.lower(F.parse_url("canonical_url", F.lit("HOST")))
            )
        )
        fresh = dedup_in_wave(valid).join(
            frontier0.select("url_hash", "canonical_url"),
            ["url_hash", "canonical_url"],
            "left_anti",
        )
        wsite = Window.partitionBy("site_id").orderBy("link_idx")
        return (
            fresh.withColumn(
                "seq", (F.row_number().over(wsite) + 1).cast("long")
            )
            .select(
                "url",
                "canonical_url",
                "url_hash",
                "host",
                "site_id",
                F.lit(1).alias("depth"),
                F.lit(1.0).alias("score"),
                F.lit(0).alias("discovered_wave"),
                "parent_seq",
                "link_idx",
                F.lit("pending").alias("state"),
                "seq",
                F.lit(None).cast("int").alias("processed_wave"),
            )
            .select(*FRONTIER_COLS)
        )

    # -- bootstrap -------------------------------------------------------

    def bootstrap(self) -> None:
        """Commit wave 0: seeded frontier/seen, initial kb/ledger/stats."""
        if self.cat.committed_wave >= 0:
            return  # resume path: state already committed
        seeds = self.seeds_df
        frontier0 = seeds.select(
            F.col("base_url").alias("url"),
            canonicalize_udf("base_url").alias("canonical_url"),
            F.lit(None).cast("long").alias("url_hash"),
            F.lower(F.parse_url("base_url", F.lit("HOST"))).alias("host"),
            "site_id",
            F.lit(0).alias("depth"),
            F.lit(1.0).alias("score"),
            F.lit(0).alias("discovered_wave"),
            F.lit(0).cast("long").alias("parent_seq"),
            F.lit(0).alias("link_idx"),
            F.lit("pending").alias("state"),
        ).withColumn("url_hash", F.xxhash64("canonical_url")).withColumn(
            "seq", F.lit(1).cast("long")  # one seed per site → seq 1
        ).withColumn("processed_wave", F.lit(None).cast("int")).select(*FRONTIER_COLS)

        if self.config.sitemap_seeding:
            # sitemap-discovered URLs join the seeds in the wave-0
            # frontier (and therefore seen0 below); stats0 then counts
            # real rows instead of assuming one row per site
            frontier0 = frontier0.unionByName(
                self._sitemap_rows(frontier0)
            ).persist()

        seen0 = frontier0.select(
            "site_id", "url_hash", "canonical_url", F.lit(0).alias("discovered_wave")
        )
        kb0 = self._kb_seed if self._kb_seed is not None else self.spark.createDataFrame([], schemas.KB)
        ledger0 = (
            self._ledger_seed.withColumn("wave", F.lit(0))
            if self._ledger_seed is not None
            else self.spark.createDataFrame([], schemas.LEDGER_LOG)
        )
        if self.config.sitemap_seeding:
            counts = frontier0.groupBy("site_id").agg(
                F.max("seq").alias("_max"), F.count("*").alias("_n")
            )
            stats0 = seeds.select("site_id").join(counts, "site_id", "left").select(
                "site_id",
                F.lit(0).cast("long").alias("scanned"),
                F.coalesce("_max", F.lit(1)).cast("long").alias("max_seq"),
                F.coalesce("_n", F.lit(1)).cast("long").alias("n_pending"),
            )
        else:
            stats0 = seeds.select(
                "site_id",
                F.lit(0).cast("long").alias("scanned"),
                F.lit(1).cast("long").alias("max_seq"),  # one seed per site → seq 1
                F.lit(1).cast("long").alias("n_pending"),
            )

        self.cat.stage("frontier", frontier0, 0)
        self.cat.stage("seen", seen0, 0)
        self.cat.stage("kb", kb0, 0)
        self.cat.stage("ledger", ledger0, 0)
        self.cat.stage("site_stats", stats0, 0)
        if self.config.use_bloom:
            # Seed keys MUST be in the wave-0 filters: update_filters only
            # adds each wave's new rows, so a missing bootstrap build
            # would leave seed URLs permanently invisible to the
            # prefilter (they'd skip the exact confirm join and re-enter
            # seen/frontier as duplicates).
            build_filters, _, _ = self._filter_ops()

            self.cat.stage(
                "seen_filters",
                build_filters(
                    seen0,
                    self.config.n_buckets,
                    self.config.bloom_expected_items,
                    self.config.bloom_fpr,
                ),
                0,
            )
        self.cat.commit(0)
        if self._pages_fetch is not None:
            self._pages_fetch.count()  # warm the bucketed fetch cache

    def bootstrap_full_frontier(self) -> None:
        """Bench/steady-state bootstrap: the whole pages table becomes the
        pending frontier (simulating a mid-crawl wide frontier, which is
        what the north-rule metric measures — frontier URLs/sec per wave
        on an already-populated 10^10-row frontier), and every URL is
        already in the seen set (discovered), so per-wave link expansion
        exercises the full dedup + anti-join path without growing state."""
        if self.cat.committed_wave >= 0:
            return
        from pyspark.sql import Window

        site = self.seeds_df.select("site_id").first()["site_id"]
        base = self.pages.select(
            F.col("url"),
            F.col("url").alias("canonical_url"),
            F.xxhash64("url").alias("url_hash"),
            F.lower(F.parse_url("url", F.lit("HOST"))).alias("host"),
            F.lit(site).alias("site_id"),
            (F.length(F.parse_url("url", F.lit("PATH"))) % 8).cast("int").alias("depth"),
            (F.pmod(F.xxhash64("url"), F.lit(1000)) / 1000.0).alias("score"),
            F.lit(0).alias("discovered_wave"),
            F.lit(0).cast("long").alias("parent_seq"),
            F.lit(0).alias("link_idx"),
            F.lit("pending").alias("state"),
        ).persist()
        # Distributed two-phase global url rank (the single-site constant
        # would fold a plain Window's partition away → one-reducer sort of
        # the whole frontier). For scheme://host/path URLs, ordering by
        # (host, url) equals ordering by url as long as no host string is
        # a proper prefix of another host (true for the bench corpus's
        # distinct FQDNs): rank within host in parallel, then offset by
        # cumulative host counts (n_hosts tiny driver rows) — exact and
        # deterministic.
        w_host = Window.partitionBy("host").orderBy("url")
        counts = base.groupBy("host").count().orderBy("host").collect()
        offsets, running = {}, 0
        for r in counts:
            offsets[r["host"]] = running
            running += r["count"]
        off_df = F.broadcast(
            self.spark.createDataFrame(
                [(h, o) for h, o in offsets.items()], "host string, _off long"
            )
        )
        frontier0 = (
            base.withColumn("_hrn", F.row_number().over(w_host))
            .join(off_df, "host", "left")
            .withColumn(
                "seq", (F.col("_hrn") + F.coalesce("_off", F.lit(0))).cast("long")
            )
            .withColumn("processed_wave", F.lit(None).cast("int"))
            .select(*FRONTIER_COLS)
        )
        seen0 = frontier0.select(
            "site_id", "url_hash", "canonical_url", F.lit(0).alias("discovered_wave")
        )
        frontier0 = frontier0.persist()
        self.cat.stage("frontier", frontier0, 0)
        self.cat.stage("seen", seen0, 0)
        self.cat.stage("kb", self.spark.createDataFrame([], schemas.KB), 0)
        self.cat.stage("ledger", self.spark.createDataFrame([], schemas.LEDGER_LOG), 0)
        self.cat.stage(
            "site_stats",
            self.seeds_df.select("site_id", F.lit(0).cast("long").alias("scanned"))
            .join(
                frontier0.groupBy("site_id").agg(
                    F.max("seq").alias("max_seq"),
                    F.count("*").alias("n_pending"),
                ),
                "site_id",
                "left",
            )
            .select(
                "site_id",
                "scanned",
                F.coalesce("max_seq", F.lit(0)).alias("max_seq"),
                F.coalesce("n_pending", F.lit(0)).alias("n_pending"),
            ),
            0,
        )
        if self.config.use_bloom:
            build_filters, _, _ = self._filter_ops()

            self.cat.stage(
                "seen_filters",
                build_filters(
                    seen0,
                    self.config.n_buckets,
                    self.config.bloom_expected_items,
                    self.config.bloom_fpr,
                ),
                0,
            )
        self.cat.commit(0)
        frontier0.unpersist()
        base.unpersist()
        self._pages_fetch.count()  # warm the bucketed fetch cache

    # -- helpers ----------------------------------------------------------

    def _maybe_refresh_robots(self) -> list[str]:
        """Robots cache lifecycle (http mode): re-fetch robots.txt for
        hosts whose cached copy is older than ``robots_ttl_s`` and swap
        in a freshly compiled rule dim, so rule changes propagate across
        waves without an engine restart. Returns the refreshed hosts
        (empty when nothing was stale — the common case, costing one
        dict scan and zero Spark work).

        Only the stale hosts' seeds are re-fetched (per-host TTL, one
        GET per origin as at init); still-fresh hosts keep their cached
        rows. A host whose re-fetch fails gets whatever
        ``robots_from_seeds`` derives for a failed fetch — the same
        no-rules semantics as a failed init fetch, so refresh can only
        ever be as wrong as bootstrap already is."""
        cfg = self.config
        if cfg.robots_mode != "http" or cfg.robots_ttl_s <= 0:
            return []
        now = self._robots_clock()
        stale = sorted(
            h
            for h, t in self._robots_fetched_at.items()
            if now - t >= cfg.robots_ttl_s
        )
        if not stale:
            return []
        from crawler_spark.operators.politeness import compile_robots
        from crawler_spark.operators.robots import robots_from_seeds

        stale_seeds = self.seeds_df.filter(
            F.lower(F.parse_url("base_url", F.lit("HOST"))).isin(stale)
        )
        fresh = robots_from_seeds(self.spark, stale_seeds, **self._boot_opts)
        old_df, old_rules = self.robots_df, self._robots_rules
        self.robots_df = (
            old_df.filter(~F.col("host").isin(stale))
            .unionByName(fresh)
            .persist()
        )
        self.robots_df.count()  # fetch exactly once, here
        self._robots_rules = compile_robots(self.robots_df).persist()
        self._robots_rules.count()
        old_df.unpersist()
        old_rules.unpersist()
        for h in stale:
            self._robots_fetched_at[h] = now
        return stale

    def _seed_dim(self):
        return F.broadcast(
            self.seeds_df.select(
                "site_id",
                "instruction",
                "max_pages",
                "crawl_delay",
                (
                    # netloc INCLUDING port (urlparse parity): both the
                    # link validity predicate and the Python-side extract
                    # filter compare against urlparse().netloc semantics
                    netloc_of(F.col("base_url"))
                    if self.config.same_domain_only
                    else F.lit("*")
                ).alias("base_netloc"),
            )
        )

    def _batch_sizes(self):
        if self.config.batch_size is not None:
            return self.seeds_df.select(
                "site_id", F.lit(self.config.batch_size).alias("batch_size")
            )
        # reference formula: min(20, max_pages // 5), floor 1
        return self.seeds_df.select(
            "site_id",
            F.greatest(
                F.least(F.lit(20), (F.col("max_pages") / 5).cast("int")), F.lit(1)
            ).alias("batch_size"),
        )

    def _buckets_of(self, df: DataFrame, n_buckets: int) -> list[int]:
        """Distinct url_hash bucket ids present in ``df`` (driver-side,
        bounded by n_buckets rows — the partition-pruning predicate for
        read_buckets / the touched-bucket list for upserts)."""
        _, buckets = self._count_and_buckets(df, n_buckets)
        return buckets

    def _count_and_buckets(
        self, df: DataFrame, n_buckets: int
    ) -> tuple[int, list[int]]:
        """(row count, touched url_hash buckets) in ONE job: the wave loop
        needs both next to each other twice (batch → n_batch + ledger
        probe buckets; new_rows → n_new + seen/filter buckets), and a
        separate ``count()`` + ``distinct().collect()`` pair costs two
        driver-synchronous actions where one map-side-combined groupBy
        (≤ n_buckets result rows) answers both."""
        rows = (
            df.groupBy(
                F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int").alias("_b")
            )
            .count()
            .collect()
        )
        return sum(r["count"] for r in rows), sorted(r["_b"] for r in rows)

    def _metric(self, frames: list, wave: int, stage: str, df: DataFrame):
        if not self.config.metrics:
            return
        m = df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
            F.count("*").alias("rows")
        ).select(
            F.lit(wave).alias("wave"),
            "partition_id",
            F.lit(stage).alias("stage"),
            "rows",
        )
        frames.append(m)

    # -- one wave ----------------------------------------------------------

    def run_wave(self) -> dict:
        """Execute wave ``committed_wave + 1``; returns wave summary.

        Runs with AQE per ``config.adaptive_in_wave`` (see CrawlConfig)
        and restores the session's prior setting afterwards. The toggle
        is necessarily session-scoped (Spark has no per-query SQL conf),
        so concurrent waves serialize on a process-wide lock to keep the
        save/restore pairs from clobbering each other; a caller that
        runs OTHER work concurrently with a wave on the same
        SparkSession (e.g. the streaming worker, ad-hoc analytics)
        should hand the engine its own ``spark.newSession()`` — separate
        SQLConf, shared SparkContext — for true isolation."""
        with _WAVE_CONF_LOCK:
            conf = self.spark.conf
            prev = conf.get("spark.sql.adaptive.enabled", "true")
            conf.set(
                "spark.sql.adaptive.enabled",
                "true" if self.config.adaptive_in_wave else "false",
            )
            ckpt = _WaveCheckpoints(self.spark)
            try:
                return self._run_wave_impl(ckpt)
            finally:
                ckpt.release()
                conf.set("spark.sql.adaptive.enabled", prev)

    def _run_wave_impl(self, ckpt: _WaveCheckpoints) -> dict:
        w = self.cat.committed_wave + 1
        cfg = self.config
        cat = self.cat
        self._maybe_refresh_robots()

        frontier_log = cat.read("frontier", schemas.FRONTIER)
        kb = cat.read("kb", schemas.KB)
        stats = cat.read("site_stats", schemas.SITE_STATS)
        # seen and ledger are NOT read whole: the wave later reads only
        # the url_hash buckets its candidates/batch actually probe
        # (read_buckets — the Iceberg bucket-partition pruning).

        active = (
            stats.join(self.seeds_df.select("site_id", "max_pages"), "site_id")
            .filter(F.col("scanned") < F.col("max_pages"))
            .select("site_id")
        )
        # merge-on-read pending view: pending-version rows not superseded
        # by a terminal version (read-side anti-join; resolved compaction
        # keeps the superseded fraction bounded)
        consumed_keys = frontier_log.filter(
            F.col("state") != "pending"
        ).select("site_id", "url_hash")
        pending = (
            frontier_log.filter(F.col("state") == "pending")
            .join(consumed_keys, ["site_id", "url_hash"], "left_anti")
            .join(F.broadcast(active), "site_id")
        )
        # n_pending is carried incrementally in site_stats (discovered −
        # consumed), so the done / skip-budget checks read a tiny
        # snapshot instead of scanning+counting the whole pending set
        with _T("pending.count"):
            row = (
                stats.join(F.broadcast(active), "site_id")
                .agg(F.sum("n_pending").alias("_n"))
                .first()
            )
            n_pending = int(row["_n"] or 0)
        if n_pending == 0:
            return {"wave": w, "done": True, "fetched": 0}

        cand = apply_kb_gates(pending, kb)

        # other_terminal: pending rows this wave consumes WITHOUT fetching
        # (KB-gated / robots-blocked), already carrying their terminal
        # state. ONE branch from one scan of the selection prefix — the
        # previous per-state branches (gated + blocked_keys re-joined to
        # pending) re-ran the frontier-log read once per branch inside
        # every job that computed the outcome union.
        if cfg.mode == PRIORITY:
            cand = robots_filter(cand, self._robots_rules)
            # robots wins precedence for rows that are both
            other_terminal = cand.filter(
                F.col("robots_blocked") | F.col("kb_gated")
            ).withColumn(
                "state",
                F.when(F.col("robots_blocked"), F.lit("robots_blocked")).otherwise(
                    F.lit("gated_kb")
                ),
            )
            cand_live = cand.filter(
                ~F.col("robots_blocked") & ~F.col("kb_gated")
            ).drop("robots_blocked")
            hosts = cand_live.select("site_id", "host").distinct()
            quotas = host_quotas(hosts, self.seeds_df, self.robots_df, cfg.wave_seconds)
            # the global budget rank cannot bind when the configured batch
            # covers every pending row — elide its single-partition sort
            skip_budget = (
                cfg.batch_size is not None and cfg.batch_size >= n_pending
            )
            batch, _ = select_wave_batch_priority(
                cand_live, quotas, self._batch_sizes(), skip_budget_rank=skip_budget
            )
        else:
            batch, gated = select_wave_batch_fifo(cand, self._batch_sizes())
            # fifo keeps the reference's pop-cutoff semantics for which
            # gated rows a wave consumes (select_wave_batch_fifo)
            other_terminal = gated.withColumn("state", F.lit("gated_kb"))

        # The wave's consumed rows in ONE frame: the batch (still
        # 'pending') and the gated/blocked rows (already terminal). The
        # selection prefix runs once, here; the outcome union below reads
        # the checkpoint instead of re-scanning the frontier log and
        # re-broadcasting the KB and robots tables.
        consumed = ckpt.take(
            "select",
            batch.select(*FRONTIER_COLS).unionByName(
                other_terminal.select(*FRONTIER_COLS)
            ),
        )
        batch = consumed.filter(F.col("state") == "pending")
        other_terminal = consumed.filter(F.col("state") != "pending")
        with _T("batch.count"):
            # the ledger-probe bucket list for the change check
            n_batch, batch_buckets = self._count_and_buckets(batch, cfg.n_buckets)
        if n_batch == 0:
            # everything pending was gated: consume it and commit the wave
            self._finish_wave_no_batch(w, other_terminal)
            return {"wave": w, "done": False, "fetched": 0, "batch": 0}

        # --- fetch ---------------------------------------------------------
        if cfg.fetch_mode == "http":
            # Production network fetch: mapInPandas over the batch, hash-
            # partitioned on url_hash so requests spread across executors;
            # per-task thread pool + per-host caps inside (fetch.py). The
            # checkpoint pins the fetched bytes: each page is GET once,
            # here, and no later job (WARC export, extract) can re-GET.
            from crawler_spark.operators.fetch import http_fetch

            fetched = ckpt.take(
                "fetch",
                http_fetch(
                    batch.repartition(cfg.n_buckets, F.col("url_hash")),
                    **(cfg.http_opts or {}),
                ),
            )
            if cfg.warc_out:
                # Archive the wave's fetched pages (S4's raw-bytes twin)
                # from the pinned bytes. warc_ts is the export action's
                # timestamp — wave-granular, truthful for a live fetch.
                from crawler_spark.sources.warc import export_warc

                # n_files=None: reuse the fetch's n_buckets hash
                # partitioning — an explicit n_files would re-shuffle
                # the page bytes; empty partitions produce no file
                export_warc(
                    fetched.filter(F.col("_html").isNotNull()).select(
                        F.col("canonical_url").alias("url"),
                        F.current_timestamp().alias("warc_ts"),
                        F.col("_html").alias("html"),
                    ),
                    f"{cfg.warc_out}/wave-{w:05d}",
                )
        else:
            # Simulated web: lookup in the pages table.
            # Co-partitioned join against the pre-bucketed pages cache:
            # only the (small) wave batch shuffles; the pages side is
            # never broadcast (massive at 10^10) and never re-shuffled
            # (bucketed once at init — on a cluster this is an Iceberg
            # storage-partitioned join). The shuffle_hash hint on the
            # batch side builds the per-partition hash map from the wave
            # batch, not the web. Joining on (hash, url) keeps hash
            # collisions harmless.
            page_side = self._pages_fetch
            fetched = (
                batch.hint("shuffle_hash")
                .repartition(cfg.n_buckets, F.col("url_hash"))
                .join(
                    page_side,
                    (batch["url_hash"] == page_side["_page_hash"])
                    & (batch["canonical_url"] == page_side["_page_url"]),
                    "left",
                )
                .drop("_page_url", "_page_hash")
            )

        # --- extract -------------------------------------------------------
        # The join output inherits the n_buckets co-partitioning, which
        # also gives the extract UDF its parallelism (never leave this to
        # AQE: it coalesces shuffles by *byte* size and would starve the
        # CPU-heavy UDF of partitions).
        seed_dim = self._seed_dim()
        fetched = fetched.join(seed_dim, "site_id", "left")
        ex_udf = {
            "density": extract_density_udf,
            "hybrid": extract_hybrid_udf,
        }.get(cfg.extractor, extract_udf)
        ex = fetched.withColumn(
            "ex",
            F.when(
                F.col("_html").isNotNull(),
                ex_udf("_html", "canonical_url", "base_netloc"),
            ),
        ).drop("_html")

        # --- ledger change check (F8) + single-pass outcome states ----------
        # The batch probes only its own url_hash buckets of the ledger —
        # bucket-pruned read, so the lookup cost tracks the batch size,
        # not the total number of pages ever processed. The fetch-outcome
        # classification (failed / fetched_empty / unchanged / fetched) is
        # ONE when-chain over ONE ledger-joined scan, and the classified
        # frame is the extract phase's checkpoint: fetch join, extract
        # UDF and ledger probe run once, and both the changed rows and
        # the outcome union read the leaf.
        led = resolve_ledger(
            cat.read_buckets("ledger", batch_buckets, schemas.LEDGER_LOG)
        ).select("url_hash", F.col("content_hash").alias("_old_hash"))
        nonempty_cond = F.col("ex.title").isNotNull() & (
            F.length(F.col("ex.text")) > 0
        )
        checked = ckpt.take(
            "extract",
            ex.withColumn(
                "content_hash", F.when(nonempty_cond, content_hash(F.col("ex.text")))
            )
            .join(led, "url_hash", "left")
            .withColumn(
                "_state",
                F.when(
                    F.col("ex").isNull() | F.col("ex.title").isNull(), F.lit("failed")
                )
                .when(
                    F.length(F.coalesce(F.col("ex.text"), F.lit(""))) == 0,
                    F.lit("fetched_empty"),
                )
                .when(F.col("content_hash") == F.col("_old_hash"), F.lit("unchanged"))
                .otherwise(F.lit("fetched")),
            ),
        )
        changed = checked.filter(F.col("_state") == "fetched").drop(
            "_state", "_old_hash"
        )

        # --- attachment stage (S3/E9/S7, optional) ---------------------------
        # Runs BEFORE crawled assembly so attachment text blocks append to
        # the page text exactly where the reference's in-loop parser puts
        # them. content_hash stays page-text-only: the ledger's
        # changed-detection contract (F8) is about the PAGE's content.
        att_failures = None
        text_col = F.col("ex.text")
        crawl_src = changed  # link expansion below stays on the bare page rows
        if cfg.attachments != "off":
            att_blocks, att_failures = self._attachment_blocks(changed, ckpt)
            crawl_src = changed.join(att_blocks, "url_hash", "left")
            text_col = F.concat(F.col("ex.text"), F.coalesce("att_text", F.lit("")))

        crawled_delta = crawl_src.select(
            F.lit(w).alias("wave"),
            "url",
            "canonical_url",
            "url_hash",
            "host",
            "site_id",
            "depth",
            F.col("ex.title").alias("title"),
            text_col.alias("text"),
            F.col("ex.quality_score").alias("quality_score"),
            "content_hash",
        )

        # --- link expansion (Q3) --------------------------------------------
        exploded = changed.select(
            "site_id",
            "base_netloc",
            F.col("seq").alias("parent_seq"),
            (F.col("depth") + 1).alias("depth"),
            F.col("ex.quality_score").alias("score"),
            F.posexplode(F.slice(F.col("ex.links"), 1, cfg.link_cap)).alias(
                "link_idx", "_link"
            ),
        ).select(
            "site_id",
            "base_netloc",
            "parent_seq",
            "depth",
            "score",
            "link_idx",
            F.col("_link.url").alias("url"),
        )
        if cfg.same_domain_only:
            validity = is_valid_url(F.col("url"), F.col("base_netloc"))
        else:
            validity = (
                F.parse_url(F.col("url"), F.lit("PROTOCOL")).isin("http", "https")
                & ~F.col("url").contains("#")
                & ~F.col("url").contains("javascript:void(0)")
            )
        valid = exploded.filter(validity).drop("base_netloc")
        valid = (
            with_canonical_split(valid, "url")
            .withColumn("url_hash", F.xxhash64("canonical_url"))
            .withColumn("host", F.lower(F.parse_url("canonical_url", F.lit("HOST"))))
        )
        deduped = ckpt.take("expand", dedup_in_wave(valid))
        # Read only the seen buckets the candidates can possibly match
        # (same-bucket-iff-same-hash) — the anti-join's right side scales
        # with the wave's candidate spread, not the full seen set.
        with _T("deduped.buckets"):
            cand_buckets = self._buckets_of(deduped, cfg.n_buckets)
        seen_sub = cat.read_buckets("seen", cand_buckets, schemas.SEEN)
        if cfg.use_bloom:
            # Same pruning predicate as the exact seen read: candidates in
            # bucket b can only probe bucket b's filter blob (bucket =
            # pmod(url_hash, B) on both sides), so reading any other blob
            # is pure waste — at 10^10 keys an unpruned read ships the
            # entire ~12 GB filter state through the cogroup shuffle every
            # wave even when the wave touches a handful of buckets.
            filters = cat.read_buckets("seen_filters", cand_buckets, FILTERS_SCHEMA)
            _, _, filter_anti_join = self._filter_ops()
            fresh = filter_anti_join(deduped, seen_sub, filters, cfg.n_buckets)
        else:
            fresh = anti_join_seen(deduped, seen_sub, cfg.n_buckets)
        fresh = ckpt.take("admit", fresh)  # assign_seq reads it three times

        # per-site seq high-water mark carried in site_stats — no
        # full-frontier aggregate per wave
        max_seq = stats.select("site_id", F.col("max_seq").alias("_max_seq"))
        with _T("assign_seq"):
            # distributed=True runs its bounds and counts collects here
            seq_rows = assign_seq(
                fresh, max_seq, distributed=cfg.distributed_seq, n_parts=cfg.n_buckets
            )
        seq_rows = seq_rows.select(
            "url",
            "canonical_url",
            "url_hash",
            "host",
            "site_id",
            "depth",
            "score",
            F.lit(w).alias("discovered_wave"),
            "parent_seq",
            "link_idx",
            F.lit("pending").alias("state"),
            "seq",
            F.lit(None).cast("int").alias("processed_wave"),
        ).select(*FRONTIER_COLS)
        new_rows = ckpt.take("sequence", seq_rows)
        # --- frontier / seen / stats updates ---------------------------------
        outcome = (
            checked.withColumn("state", F.col("_state"))
            .select(*FRONTIER_COLS)
            .unionByName(other_terminal.select(*FRONTIER_COLS))
            .withColumn("processed_wave", F.lit(w))
        )
        # Frontier log append: this wave's delta is exactly the terminal
        # versions of consumed rows + the newly discovered pending rows.
        # Nothing is read back, nothing existing is rewritten — per-wave
        # frontier WRITE cost is O(delta) regardless of frontier size
        # (the 100×-scale fix for the full-snapshot rewrite).
        # coalesce: the union stacks several branch partitionings (many
        # partitions of a few KB each) — written as-is that is hundreds of
        # write tasks and tiny files PER WAVE that every later frontier
        # read re-unions; coalesce (no shuffle) bounds the delta to
        # n_buckets tasks/files while keeping the write parallel
        frontier_delta = ckpt.take(
            "delta",
            outcome.select(*FRONTIER_COLS)
            .unionByName(new_rows)
            .coalesce(cfg.n_buckets),
        )
        with _T("delta.states"):
            # ≤ 7×n_buckets result rows give the wave summary counts AND
            # the discovered rows' seen/filter delta buckets in one job
            # over the checkpoint; the stage writes and stats aggregates
            # below read the same slim rows
            sb_rows = (
                frontier_delta.groupBy(
                    "state",
                    F.pmod(F.col("url_hash"), F.lit(cfg.n_buckets))
                    .cast("int")
                    .alias("_b"),
                )
                .count()
                .collect()
            )
        state_counts: dict[str, int] = {}
        s_bucket_set = set()
        for r in sb_rows:
            state_counts[r["state"]] = state_counts.get(r["state"], 0) + r["count"]
            if r["state"] == "pending":
                s_bucket_set.add(r["_b"])
        s_buckets = sorted(s_bucket_set)
        n_new = state_counts.get("pending", 0)
        n_fetched = state_counts.get("fetched", 0) + state_counts.get(
            "unchanged", 0
        )

        # seen is append-only: stage just this wave's delta (elided
        # entirely on waves that discovered nothing new)
        seen_delta = new_rows.select(
            "site_id", "url_hash", "canonical_url", F.lit(w).alias("discovered_wave")
        )
        # per-site stats deltas all derive from the CACHED frontier_delta
        # (scanned = rows that yielded text this wave; consumed = every
        # terminal row; discovered = the pending rows) — identical
        # values to aggregating the source frames, zero recomputation
        scanned_delta = (
            frontier_delta.filter(F.col("state").isin("fetched", "unchanged"))
            .groupBy("site_id")
            .agg(F.count("*").alias("_d"))
        )
        new_seq = (
            frontier_delta.filter(F.col("state") == "pending")
            .groupBy("site_id")
            .agg(F.max("seq").alias("_new_max"), F.count("*").alias("_new_n"))
        )
        consumed_delta = (
            frontier_delta.filter(F.col("state") != "pending")
            .groupBy("site_id")
            .agg(F.count("*").alias("_c"))
        )
        stats_next = (
            stats.join(scanned_delta, "site_id", "left")
            .join(new_seq, "site_id", "left")
            .join(consumed_delta, "site_id", "left")
            .select(
                "site_id",
                (F.col("scanned") + F.coalesce("_d", F.lit(0))).alias("scanned"),
                F.greatest(
                    F.col("max_seq"), F.coalesce("_new_max", F.lit(0))
                ).alias("max_seq"),
                (
                    F.col("n_pending")
                    - F.coalesce("_c", F.lit(0))
                    + F.coalesce("_new_n", F.lit(0))
                ).alias("n_pending"),
            )
        )

        # --- cascade (phase-2 worker) -----------------------------------------
        kb_next = kb
        cascade_out = None
        if cfg.cascade:
            cascade_out = run_cascade(
                crawled_delta, self.seeds_df, w, cfg.relevance_threshold
            )
            kb_next = merge_kb(kb, wave_kb_delta(cascade_out["verdicts"]))
            # ledger is a MOR log: append this wave's versions, resolution
            # (max wave per key) happens on the bucket-pruned read

        # --- metrics + commit ---------------------------------------------------
        # per-stage lineage over checkpointed frames only (batch, the
        # state-labeled frontier delta, new_rows) — a metric must never
        # re-run the pipeline it measures (the previous 'discovered'
        # metric re-ran the whole seen anti-join at metrics-write time)
        mframes: list[DataFrame] = []
        self._metric(mframes, w, "selected", batch)
        self._metric(
            mframes,
            w,
            "fetched",
            frontier_delta.filter(F.col("state").isin("fetched", "unchanged")),
        )
        self._metric(
            mframes, w, "failed", frontier_delta.filter(F.col("state") == "failed")
        )
        self._metric(
            mframes,
            w,
            "unchanged",
            frontier_delta.filter(F.col("state") == "unchanged"),
        )
        self._metric(mframes, w, "discovered", new_rows)

        # Stage all tables concurrently: every shared input (batch/
        # checked/new_rows/frontier_delta) is already a checkpoint, so the
        # writes are independent Spark jobs —
        # submitting them from threads overlaps scheduling and parquet
        # I/O, cutting fixed per-wave overhead. Bucketed tables are
        # hash-laid-out by the catalog (bucket(url_hash) — the layout the
        # seen anti-join co-partitions on); frontier/seen/ledger stage
        # only this wave's deltas.
        stage_jobs: list[tuple[str, DataFrame, list[int] | None]] = [
            ("frontier", frontier_delta, None),
            ("site_stats", stats_next, None),
            ("crawled", crawled_delta, None),
        ]
        if att_failures is not None:
            stage_jobs.append(
                ("failed_attachments", att_failures.withColumn("wave", F.lit(w)), None)
            )
        if n_new:
            stage_jobs.append(("seen", seen_delta, None))
        if cfg.use_bloom and s_buckets:
            # only the blobs of buckets that gained keys are rewritten
            _, filter_update, _ = self._filter_ops()
            filters_next = filter_update(
                filters.filter(F.col("bucket").isin(s_buckets)),
                new_rows.select("url_hash"),
                cfg.n_buckets,
                cfg.bloom_expected_items,
                cfg.bloom_fpr,
            )
            stage_jobs.append(("seen_filters", filters_next, s_buckets))
        if cascade_out is not None:
            packets_out = cascade_out["packets"]
            rejected_out = cascade_out["rejected"]
            if cfg.curate:
                # storage-side curation guard, identical to the streaming
                # worker's curate=True stage: repetition spam never lands
                # in the packets table and PII is redacted pre-commit
                from crawler_spark.operators.curation import curate_packets

                packets_out, curation_failed = curate_packets(packets_out)
                rejected_out = rejected_out.unionByName(
                    curation_failed.select(
                        "site_id",
                        F.col("content_url").alias("canonical_url"),
                        F.xxhash64("content_url").alias("url_hash"),
                        F.lit("curation_repetition").alias("reason"),
                    )
                )
            # kb/ledger change only when the cascade ran; otherwise the
            # previous snapshots stay current (no pointless rewrite)
            stage_jobs += [
                ("kb", kb_next, None),
                ("ledger", cascade_out["ledger_delta"], None),
                ("packets", packets_out, None),
                ("rejected", rejected_out.withColumn("wave", F.lit(w)), None),
            ]
        if mframes:
            allm = mframes[0]
            for m in mframes[1:]:
                allm = allm.unionByName(m)
            # same union-stacking as frontier_delta: bound the tiny
            # metrics delta to one write task per bucket
            stage_jobs.append(("metrics", allm.coalesce(cfg.n_buckets), None))

        with _T("stage.all"):
            from concurrent.futures import ThreadPoolExecutor

            def _stage_one(name, df, touched):
                t0 = time.time()
                cat.stage(name, df, w, touched)
                if _PROFILE:
                    print(
                        f"      [stage.{name}] {time.time() - t0:.2f}s",
                        flush=True,
                    )

            # one worker per staged table: the writes are tiny independent
            # jobs over cached inputs — with fewer workers than tables the
            # tail tables wait a full scheduling round for no reason
            with ThreadPoolExecutor(max_workers=max(4, len(stage_jobs))) as pool:
                for fu in [
                    pool.submit(_stage_one, name, df, touched)
                    for name, df, touched in stage_jobs
                ]:
                    fu.result()

        # Decide compaction BEFORE the commit so the terminal counter's
        # reset/advance publishes atomically with this wave's deltas
        # (a crash between commit and compaction then replays with the
        # correct counter). n_batch undercounts terminals (gated/blocked
        # rows are also terminal), so the trigger can only fire a touch
        # later than the true ratio — conservative, never spurious.
        do_compact = bool(cfg.compact_every and w % cfg.compact_every == 0)
        if cfg.compact_terminal_ratio > 0:
            terminal_since = (
                int(cat.get_meta("frontier_terminal_since_compact", 0)) + n_batch
            )
            live_after = max(1, n_pending - n_batch + n_new)
            if terminal_since >= cfg.compact_terminal_ratio * live_after:
                do_compact = True
            cat.set_meta(
                "frontier_terminal_since_compact", 0 if do_compact else terminal_since
            )
        with _T("commit"):
            cat.commit(w)
        if do_compact:
            # Iceberg maintenance stand-in: coalesce delta stacks; the
            # MOR logs are rewritten RESOLVED (superseded versions drop)
            with _T("compact"):
                cat.compact("seen")
                # frontier: live pending rows stay hot, resolved terminal
                # rows leave for the archive — the pending view then
                # scans only live rows + post-compaction deltas instead
                # of all-time crawl history
                cat.compact_split(
                    "frontier", "frontier_archive", resolve_frontier, frontier_hot()
                )
                if cfg.cascade:
                    cat.compact(
                        "ledger",
                        resolver=lambda log: resolve_ledger(log).withColumn(
                            "wave", F.lit(w)
                        ),
                    )
        return {"wave": w, "done": False, "batch": n_batch, "fetched": n_fetched}

    def _finish_wave_no_batch(self, w, other_terminal):
        """All pending rows were gated/blocked: append their terminal
        versions (already state-labeled) to the frontier log, decrement
        the pending counters, and commit the wave. ``other_terminal``
        reads the wave's consumed-rows checkpoint."""
        outcome = other_terminal.select(*FRONTIER_COLS).withColumn(
            "processed_wave", F.lit(w)
        )
        stats = self.cat.read("site_stats", schemas.SITE_STATS)
        consumed_delta = outcome.groupBy("site_id").agg(F.count("*").alias("_c"))
        stats_next = stats.join(consumed_delta, "site_id", "left").select(
            "site_id",
            "scanned",
            "max_seq",
            (F.col("n_pending") - F.coalesce("_c", F.lit(0))).alias("n_pending"),
        )
        self.cat.stage("frontier", outcome.select(*FRONTIER_COLS), w)
        self.cat.stage("site_stats", stats_next, w)
        self.cat.commit(w)

    # -- resolved views ----------------------------------------------------

    def frontier_log_full(self) -> DataFrame:
        """The full frontier history: archived terminal rows ∪ the hot
        log (live pending + post-compaction deltas). Without compaction
        the archive is empty and this is just the log."""
        return self.cat.read("frontier_archive", schemas.FRONTIER).unionByName(
            self.cat.read("frontier", schemas.FRONTIER)
        )

    def frontier_view(self) -> DataFrame:
        """Current frontier state (merge-on-read resolution over the
        full history — archived terminals win over their long-gone
        pending versions exactly as in-log terminals do)."""
        return resolve_frontier(self.frontier_log_full())

    def ledger_view(self) -> DataFrame:
        """Current ledger state (latest version per url_hash)."""
        return resolve_ledger(self.cat.read("ledger", schemas.LEDGER_LOG))

    # -- full run ---------------------------------------------------------

    def run(self, max_waves: int = 1000) -> list[dict]:
        self.bootstrap()
        history = []
        for _ in range(max_waves):
            res = self.run_wave()
            history.append(res)
            if res.get("done"):
                break
        return history
