"""Benchmark harness: crawl-wave throughput + headline operator timings.

Two entry points:

``python bench.py`` prints ONE JSON line:
  {"metric": "crawl_wave_bench_sec", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>,
   "urls_per_sec": <frontier URLs/sec over the crawl waves>,
   "pages_per_sec": <fetched+extracted pages/sec>, ...}

  SPARK_GRAFT_SF_DIR  testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] parallelism (default 32)
  BENCH_WAVES         crawl waves to run (default 4)
  BENCH_PAGES         override synthetic corpus size

``python bench.py --scaling`` runs the same crawl job at N and 4N and
prints ONE JSON report (efficiency plus an Amdahl fit); see
:func:`scaling` for its knobs. It writes no file: the curated evidence
lives in BENCH/BASELINE.md.

The authoritative metric (BASELINE.json) is frontier URLs/sec per wave;
the reference's own numbers are 1–2 pages/sec (standard) and a claimed
5–15 pages/sec (hp) single-node.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def _corpus(n_pages: int, page_scale: int = 1) -> str:
    """Generate (once, cached) the synthetic web at the bench scale."""
    d = f"/tmp/crawler_spark_bench_corpus_{n_pages}_{page_scale}"
    marker = os.path.join(d, "_done")
    if not os.path.exists(marker):
        os.makedirs(d, exist_ok=True)
        if n_pages >= 500_000:
            # driver-side generation is ~1.6 ms/page with all html in
            # memory at once — above half a million pages, generate with
            # every core via the Spark-parallel generator (a throwaway
            # session: corpus generation must not inherit, or constrain,
            # the measured run's parallelism level)
            from crawler_spark.synthgen import generate_corpus_distributed

            spark = build("local[*]", shuffle=64)
            try:
                generate_corpus_distributed(
                    spark, d, n_pages=n_pages,
                    n_hosts=max(6, n_pages // 2000), seed=42,
                    page_scale=page_scale,
                )
            finally:
                spark.stop()
        else:
            from crawler_spark.synthgen import generate_corpus

            generate_corpus(
                d,
                n_pages=n_pages,
                n_hosts=max(6, n_pages // 2000),
                seed=42,
                page_scale=page_scale,
            )
        open(marker, "w").write("ok")
    return d


def run_crawl_bench(
    spark, n_pages: int, waves: int, workdir: str, page_scale: int = 1
) -> dict:
    from crawler_spark.wave import CrawlConfig, CrawlEngine

    d = _corpus(n_pages, page_scale)
    batch_size = max(1, n_pages // max(1, waves))
    pages = spark.read.parquet(f"{d}/pages.parquet")
    seeds = spark.read.parquet(f"{d}/seeds.parquet").limit(1)
    robots = spark.read.parquet(f"{d}/robots.parquet")
    engine = CrawlEngine(
        spark,
        workdir,
        pages=pages,
        seeds=seeds,
        robots=robots,
        config=CrawlConfig(
            mode="priority",
            # each wave pops ~1/waves of the frontier (politeness quota
            # computed but non-binding: this measures machinery throughput)
            batch_size=batch_size,
            wave_seconds=1e6,
            same_domain_only=False,
            use_bloom=True,
            distributed_seq=True,
            metrics=False,
        ),
    )
    engine.bootstrap_full_frontier()  # steady-state: wide pending frontier
    t0 = time.time()
    total_selected = 0
    total_fetched = 0
    wave_times = []
    for _ in range(waves):
        w0 = time.time()
        res = engine.run_wave()
        wave_times.append(round(time.time() - w0, 3))
        total_selected += res.get("batch", 0)
        total_fetched += res.get("fetched", 0)
        if res.get("done"):
            break
    elapsed = time.time() - t0
    seen_n = engine.cat.read("seen").count()
    return {
        "crawl_sec": round(elapsed, 3),
        "wave_sec": wave_times,
        "urls_selected": total_selected,
        "pages_fetched": total_fetched,
        "seen_size": seen_n,
        "urls_per_sec": round(total_selected / elapsed, 1) if elapsed else 0.0,
        "pages_per_sec": round(total_fetched / elapsed, 1) if elapsed else 0.0,
    }


def run_operator_bench(spark, sf_dir: str) -> dict:
    import __spark_entry__ as entry_mod
    from crawler_spark.operators.dedup import simhash_pairs

    qs = dict(entry_mod.queries())
    # bench simhash in the production dedup regime (Hamming <= 3, the
    # 4x16-bit banding every round has measured); the contract query
    # q_simhash_pairs runs Hamming <= 12 to exercise the recall-complete
    # distance-derived banding against its brute-force oracle, which is
    # a correctness workload, not the throughput one
    qs["simhash_pairs"] = lambda s, d: simhash_pairs(
        s.read.parquet(f"{d}/documents.parquet"), max_hamming=3
    )
    headline = [
        "pricing_summary",
        "frontier_window_rank",
        "broadcast_join_enrich",
        "dedup_exact",
        "minhash_pairs",
        "simhash_pairs",
        "similarity_topk",
        "token_stats",
        "gate_cascade",
        "events_hourly",
    ]
    out = {}
    for name in headline:
        t0 = time.time()
        n = qs[name](spark, sf_dir).count()
        out[name] = round(time.time() - t0, 3)
        out[f"{name}_rows"] = n
    return out


def build(master: str, shuffle: int, extra_conf: dict | None = None):
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from crawler_spark.session import build_session

    return build_session(
        app_name="bench", master=master, shuffle_partitions=shuffle,
        extra_conf=extra_conf,
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    waves = int(os.environ.get("BENCH_WAVES", "4"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    n_pages = int(os.environ.get("BENCH_PAGES", str(max(2000, int(200_000 * sf)))))

    import shutil
    import tempfile

    spark = build(f"local[{cpus}]", shuffle=max(8, cpus))
    work = tempfile.mkdtemp(prefix="benchwork")
    try:
        t0 = time.time()
        crawl = run_crawl_bench(spark, n_pages, waves, work)
        ops = run_operator_bench(spark, sf_dir)
        total = round(time.time() - t0, 3)
        queries = {k: v for k, v in ops.items() if not k.endswith("_rows")}
        queries["crawl_waves"] = crawl["crawl_sec"]
        result = {
            "metric": "crawl_wave_bench_sec",
            "value": total,
            "unit": "sec",
            "queries": queries,
            "sf": sf,
            "cpus": cpus,
            "n_pages": n_pages,
            **{k: v for k, v in crawl.items() if k != "crawl_sec"},
            "rows": {k[:-5]: v for k, v in ops.items() if k.endswith("_rows")},
        }
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


def scaling() -> None:
    """N→4N scaling evidence: the same crawl job at N and 4N.

    One leg per level in interleaved rounds, best round per side
    compared (the sandbox is a shared host whose background load swings
    throughput minutes apart; best-of approximates the uncontended
    machine). Two forms, picked by ``BENCH_EXEC_CORES``:

    * unset — threads: ``local[N]`` vs ``local[4N]`` in one JVM heap;
    * set — executors: ``local-cluster[N, cores, BENCH_EXEC_MEM_MB]``,
      N Worker JVMs each hosting one executor with its own heap and
      Python workers, wired to the driver over standalone RPC — the
      single-box analog of N and 4N cluster nodes.

    Knobs: ``BENCH_PAGES`` (default 40000), ``BENCH_PAGE_SCALE`` (24,
    realistic html weight), ``BENCH_WAVES`` (1), ``BENCH_N`` (4 threads /
    1 executor), ``BENCH_LEVELS`` (extra levels for the fit, comma
    list), ``BENCH_ROUNDS`` (2), ``BENCH_SHUFFLE`` (one count for every
    leg so all legs run the same physical plan: the widest thread level,
    or 32 — 4 tasks per core on the 4×2-core executor leg),
    ``BENCH_EXEC_MEM_MB`` (20480 per worker JVM) and ``BENCH_LOCAL_DIR``
    (``spark.local.dir``, e.g. on tmpfs so every leg's shuffle and spill
    skip the box's one shared disk).
    """
    import shutil
    import tempfile

    n_pages = int(os.environ.get("BENCH_PAGES", "40000"))
    waves = int(os.environ.get("BENCH_WAVES", "1"))
    page_scale = int(os.environ.get("BENCH_PAGE_SCALE", "24"))
    rounds = int(os.environ.get("BENCH_ROUNDS", "2"))
    exec_cores = int(os.environ.get("BENCH_EXEC_CORES", "0"))
    n_lo = int(os.environ.get("BENCH_N", "1" if exec_cores else "4"))
    n_hi = 4 * n_lo
    extra = os.environ.get("BENCH_LEVELS", "")
    levels = sorted({n_lo, n_hi} | {int(x) for x in extra.split(",") if x})
    # zstd shuffle/persisted-block compression on every leg, so a
    # multi-million-URL wave's transient state fits the single small disk
    conf = {"spark.io.compression.codec": "zstd", "spark.rdd.compress": "true"}
    if exec_cores:
        mem_mb = int(os.environ.get("BENCH_EXEC_MEM_MB", "20480"))
        conf.update({
            # worker JVM gets mem_mb; leave the executor heap headroom
            "spark.executor.memory": f"{mem_mb - 2048}m",
            # executors' Python workers must import crawler_spark (the
            # wave's pandas UDFs are pickled by reference); a cluster
            # ships dist/crawler_spark.zip via --py-files instead
            "spark.executorEnv.PYTHONPATH": os.path.dirname(os.path.abspath(__file__)),
            "spark.pyspark.python": sys.executable,
        })
        master = lambda n: f"local-cluster[{n},{exec_cores},{mem_mb}]"  # noqa: E731
    else:
        master = lambda n: f"local[{n}]"  # noqa: E731
    cores = {n: n * (exec_cores or 1) for n in levels}
    shuffle = int(os.environ.get(
        "BENCH_SHUFFLE", "32" if exec_cores else str(max(8, levels[-1]))
    ))
    local_dir = os.environ.get("BENCH_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        conf["spark.local.dir"] = local_dir
    _corpus(n_pages, page_scale)  # generate once before timing anything

    runs: dict[int, list[dict]] = {n: [] for n in levels}
    for _ in range(rounds):
        for n in levels:
            spark = build(master(n), shuffle=shuffle, extra_conf=conf)
            work = tempfile.mkdtemp(prefix=f"scale{n}")
            try:
                runs[n].append(run_crawl_bench(spark, n_pages, waves, work, page_scale))
            finally:
                shutil.rmtree(work, ignore_errors=True)
                spark.stop()
    best = {n: max(rs, key=lambda r: r["urls_per_sec"]) for n, rs in runs.items()}
    lo = best[n_lo]["urls_per_sec"]
    hi = best[n_hi]["urls_per_sec"]

    # Amdahl fit t(c) = F + W/c over every level (least squares on
    # x = 1/cores). F = per-wave fixed cost (driver planning, job
    # scheduling, commit); W = data-parallel CPU-s. F is constant per
    # wave, so it amortizes as waves grow: project the efficiency at
    # waves 10x and 100x this size.
    xs = [1.0 / cores[n] for n in levels]
    ys = [min(sum(r["wave_sec"]) for r in runs[n]) for n in levels]
    mx, my = statistics.mean(xs), statistics.mean(ys)
    W = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )
    Ffix = max(0.0, my - W * mx)

    def proj(k: int) -> float:
        return round(
            (Ffix + k * W / cores[n_lo]) / (4 * (Ffix + k * W / cores[n_hi])), 3
        )

    print(json.dumps({
        "mode": "executors" if exec_cores else "threads",
        "masters": [master(n_lo), master(n_hi)],
        "lo_urls_per_sec": lo,
        "hi_urls_per_sec": hi,
        "speedup": round(hi / lo, 3) if lo else 0.0,
        "efficiency_n_to_4n": round(hi / lo / 4.0, 3) if lo else 0.0,
        "fit_fixed_sec_per_wave": round(Ffix, 2),
        "fit_parallel_cpu_sec_per_wave": round(W, 1),
        "efficiency_projected_10x_wave": proj(10),
        "efficiency_projected_100x_wave": proj(100),
        "best_wave_sec": {str(n): best[n]["wave_sec"] for n in levels},
        "all_runs": {str(n): [r["urls_per_sec"] for r in rs] for n, rs in runs.items()},
        "n_pages": n_pages,
        "page_scale": page_scale,
        "waves": waves,
        "rounds": rounds,
        "shuffle": shuffle,
    }))


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        scaling()
    else:
        main()
