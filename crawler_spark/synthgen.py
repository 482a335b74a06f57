"""Deterministic synthetic web generator (the simulated crawl universe).

Produces the BASELINE.json ``input_hint`` table
``pages(url, warc_ts, html, text, lang)`` plus ``seeds``, ``robots``,
``kb_seed`` and ``ledger_seed`` parquet tables, fully offline and seeded
(no external data, no network).

Key properties:

* **Power-law host distribution** — host 0 is a mega-domain holding a
  large share of pages, so the per-host politeness groupBy and AQE skew
  handling have real skew to chew on.
* **Tree-shaped link graph per host** — BFS depth is well defined, so
  crawl-order parity against the oracle BFS is checkable.
* **Noise-bearing HTML template** — nav/header/footer boilerplate,
  script/style/meta blocks, Korean noise keywords, ``작성자:``/``등록일:``
  metadata lines, fragment/`javascript:` hrefs, cross-domain and
  file-extension links: every clean/filter rule in the engine has live
  inputs.
* **Independent expected-text oracle** — the ``text`` column is computed
  from the *template internals* (tag-strip of the known ``<main>`` region
  + the reference clean chain), NOT by the engine's HTML parser. The
  engine must reproduce it byte-identically from the raw ``html`` bytes
  (reference semantics: high_performance_extractor.py:262-407).
"""

from __future__ import annotations

import random
import re
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

# --- reference clean-chain transcription (behavioral spec, SURVEY E5) ----

_NOISE_PATTERNS = [
    r"다운로드|뷰어|첨부파일|목록으로|이전글|다음글|맨위로",
    r"Copyright.*All rights reserved",
    r"찾아오시는 길|개인정보처리방침",
    r"작성자\s*[:：]\s*\S+",
    r"등록일\s*[:：]\s*\d{4}[-/.]\d{1,2}[-/.]\d{1,2}",
    r"조회수\s*[:：]\s*\d+",
]


def clean_extracted_text_spec(text: str) -> str:
    """The reference text-clean chain (high_performance_extractor.py:376-407),
    transcribed as the behavioral spec shared by generator-oracle and tests."""
    if not text:
        return ""
    text = re.sub(r"\s+", " ", text)
    text = re.sub(r"\n\s*\n", "\n\n", text)
    for pattern in _NOISE_PATTERNS:
        text = re.sub(pattern, "", text, flags=re.IGNORECASE)
    lines = text.split("\n")
    cleaned = [ln.strip() for ln in lines]
    return "\n".join(ln for ln in cleaned if len(ln) >= 10)


_TAG_RE = re.compile(r"<[^>]+>")


def _oracle_text_from_main(main_inner_html: str) -> str:
    """Expected extracted text, derived from the template's <main> region.

    The reference extractor picks the max-text candidate among its
    selector list; with this template the <main> element (and body minus
    removed header/nav/footer, which collapses to the same cleaned bytes)
    is always the winner. Tag boundaries are always whitespace-separated
    in the template, so a tag → ' ' substitution is whitespace-equivalent
    to DOM text_content(); the clean chain collapses the difference.
    """
    return clean_extracted_text_spec(_TAG_RE.sub(" ", main_inner_html))


# --- vocabulary --------------------------------------------------------

_WORDS_EN = (
    "signal frontier window partition shuffle broadcast lineage vector batch "
    "column filter schema commit snapshot budget quota anchor crawl packet "
    "merge score depth wave bucket bloom cuckoo salt skew spill codegen"
).split()

_WORDS_KO = (
    "설명 내용 정보 소개 개요 현황 실적 계획 전략 공지 발표 자료 보고서 "
    "분석 결과 통계 지표 연구 개발 운영"
).split()

_NOISE_LINES = [
    "다운로드 뷰어 첨부파일",
    "목록으로 이전글 다음글 맨위로",
    "작성자 : admin01",
    "등록일 : 2024-03-15",
    "조회수 : 1234",
]

SENTINEL = "--- 첨부 파일 처리 실패: corrupted.pdf ---"


def _sentence(rng: random.Random, ko_ratio: float) -> str:
    n = rng.randint(6, 14)
    words = []
    for _ in range(n):
        if rng.random() < ko_ratio:
            words.append(rng.choice(_WORDS_KO))
        else:
            words.append(rng.choice(_WORDS_EN))
    return " ".join(words) + "."


# --- page/graph construction -------------------------------------------

BRANCH = 4  # tree branching factor per page


def _host_sizes(n_pages: int, n_hosts: int, skew_exp: float = 1.1) -> list[int]:
    """Power-law page allocation; host 0 is the mega-domain.

    ``skew_exp`` is the Zipf exponent: 0.0 → uniform hosts, the 1.1
    default → the mild web-like skew every corpus so far has used, 3.0 →
    a pathological mega-domain holding ~80%+ of all pages (a host-skew
    stress input)."""
    weights = [1.0 / (i + 1) ** skew_exp for i in range(n_hosts)]
    total = sum(weights)
    sizes = [max(2, int(round(n_pages * w / total))) for w in weights]
    # trim/pad to exactly n_pages
    while sum(sizes) > n_pages:
        sizes[sizes.index(max(sizes))] -= 1
    while sum(sizes) < n_pages:
        sizes[0] += 1
    return sizes


def _page_url(host: str, j: int) -> str:
    if j == 0:
        return f"https://{host}/"
    # a tree-shaped path: depth via repeated division
    return f"https://{host}/p{j}"


def _page_record(
    rng: random.Random,
    hosts: list[str],
    h_idx: int,
    j: int,
    size: int,
    row: int,
    page_scale: int,
    sentinel_every: int,
    empty_every: int,
) -> tuple[str, bytes, str, str, list[tuple[str, str]]]:
    """Build one page: (url, html_bytes, expected_text, lang, link_items).

    The ONLY source of randomness is ``rng``, consumed in a fixed call
    order — the sequential generator threads one stream through every
    page (byte-stable test corpora), the distributed generator seeds a
    fresh per-row stream (order-independent across partitions)."""
    host = hosts[h_idx]
    other_host = hosts[(h_idx + 1) % len(hosts)]
    url = _page_url(host, j)
    ko_ratio = 0.55 if h_idx % 2 == 0 else 0.15
    lang = "ko" if ko_ratio > 0.3 else "en"
    if row % 53 == 0:
        lang = "unknown"

    title = f"Page {j} of {host} " + _sentence(rng, ko_ratio)[:-1]

    # body paragraphs; page_scale multiplies body size toward
    # realistic web-page weight (bench corpora) without changing
    # the rng stream for page_scale=1 (test corpora stay stable)
    n_para = rng.randint(1, 6) * page_scale
    paras = [_sentence(rng, ko_ratio) + " " + _sentence(rng, ko_ratio) for _ in range(n_para)]
    if row % 7 == 0:
        paras.append(rng.choice(_NOISE_LINES))
    if sentinel_every and row % sentinel_every == 5:
        paras.append(SENTINEL)
    if empty_every and j > 0 and row % empty_every == 3:
        paras = ["tiny."]  # cleaned text < 10 chars → empty (F13 path)

    # links: children in the page tree, a couple of cross refs,
    # plus noise links of every filterable kind
    child_ids = [BRANCH * j + k for k in range(1, BRANCH + 1) if BRANCH * j + k < size]
    link_items: list[tuple[str, str]] = []
    for cid in child_ids:
        link_items.append((f"/p{cid}", f"child link {cid} {rng.choice(_WORDS_EN)}"))
    if j > 1 and rng.random() < 0.6:
        back = rng.randint(0, j - 1)
        link_items.append((_page_url(host, back), f"crossref {back} revisit"))
    noise_links = [
        ("#top", "맨위로"),
        ("javascript:void(0)", "공유하기"),
        (f"https://{other_host}/", "external partner"),
        ("/login", "로그인"),
        (f"/files/report{j}.pdf", "다운로드 report"),
        (f"/p{j}#section2", "섹션 바로가기"),
    ]
    link_items.extend(noise_links)

    main_links_html = "\n".join(
        f'<li>\n<a href="{href}"> {anchor} </a>\n</li>' for href, anchor in link_items
    )
    main_inner = (
        f"<h1> {title} </h1>\n"
        + "\n".join(f"<p> {p} </p>" for p in paras)
        + f'\n<ul class="lnk">\n{main_links_html}\n</ul>'
    )
    html_doc = (
        "<html>\n<head>\n"
        f"<title> {title} </title>\n"
        '<meta charset="utf-8"/>\n'
        "<style> body { margin: 0; } </style>\n"
        "<script> var tracking = 1; </script>\n"
        "</head>\n<body>\n"
        '<header>\n<a href="/"> 홈 </a>\n로그인 사이트맵 고객센터\n</header>\n'
        f'<nav>\n<a href="/p0"> 목록으로 </a>\n<a href="/sitemap"> 사이트맵 </a>\n</nav>\n'
        f"<main>\n{main_inner}\n</main>\n"
        "<footer>\nCopyright 2025 example All rights reserved\n개인정보처리방침\n</footer>\n"
        "<form>\n<input type='text'/>\n<button> 검색 </button>\n</form>\n"
        "</body>\n</html>"
    )

    expected = _oracle_text_from_main(main_inner)
    return url, html_doc.encode("utf-8"), expected, lang, link_items


def _write_small_tables(out_dir: str, hosts: list[str]) -> list[str]:
    """Write seeds/robots/kb_seed (driver-sized dimension tables shared by
    the sequential and distributed generators); returns the seed hosts."""
    # seeds: 3 sites (mega + two normal), reference config shape
    seed_hosts = hosts[: min(3, len(hosts))]
    seeds_tbl = pa.table(
        {
            "site_id": pa.array([h.split(".")[0] for h in seed_hosts]),
            "site_name": pa.array([f"Site {h}" for h in seed_hosts]),
            "base_url": pa.array([f"https://{h}/" for h in seed_hosts]),
            "instruction": pa.array(
                ["정보 분석 보고서 실적 계획 frontier window partition"] * len(seed_hosts)
            ),
            "max_pages": pa.array([10**9] * len(seed_hosts), pa.int32()),
            "crawl_delay": pa.array([1.0] * len(seed_hosts), pa.float64()),
        }
    )
    pq.write_table(seeds_tbl, f"{out_dir}/seeds.parquet")

    robots_tbl = pa.table(
        {
            "host": pa.array(hosts),
            "disallow": pa.array(
                [["/files/", "/login"] if i % 2 == 0 else [] for i in range(len(hosts))],
                pa.list_(pa.string()),
            ),
            # no allow rules in the synthetic corpora (keeps the pure
            # prefix-disallow parity oracle); RFC longest-match allow
            # precedence is pinned by tests/test_robots.py instead
            "allow": pa.array([[] for _ in hosts], pa.list_(pa.string())),
            "crawl_delay": pa.array(
                [2.0 if i == 0 else 1.0 for i in range(len(hosts))], pa.float64()
            ),
        }
    )
    pq.write_table(robots_tbl, f"{out_dir}/robots.parquet")

    # kb_seed: poison one path pattern per seed host so F5/F6 gates fire
    kb_rows = []
    for h in seed_hosts:
        sid = h.split(".")[0]
        kb_rows.append((sid, "/p7", 0.6, 4, 0.15, 0))   # ignore gate: count>=3, avg<0.4
        kb_rows.append((sid, "/p11", 2.4, 4, 0.6, 3))   # problematic gate: failures>=3
    kb_tbl = pa.table(
        {
            "site_id": pa.array([r[0] for r in kb_rows]),
            "pattern": pa.array([r[1] for r in kb_rows]),
            "total_score": pa.array([r[2] for r in kb_rows], pa.float64()),
            "count": pa.array([r[3] for r in kb_rows], pa.int64()),
            "avg_score": pa.array([r[4] for r in kb_rows], pa.float64()),
            "failure_count": pa.array([r[5] for r in kb_rows], pa.int64()),
        }
    )
    pq.write_table(kb_tbl, f"{out_dir}/kb_seed.parquet")
    return seed_hosts


def generate_corpus(
    out_dir: str,
    n_pages: int = 400,
    n_hosts: int = 6,
    seed: int = 42,
    sentinel_every: int = 37,
    unchanged_every: int = 23,
    empty_every: int = 41,
    page_scale: int = 1,
    skew_exp: float = 1.1,
) -> dict:
    """Write pages/seeds/robots/kb_seed/ledger_seed parquet into out_dir.

    Returns a manifest dict with per-table row counts and the oracle link
    graph (url -> ordered list of same-host candidate links) used by the
    BFS-parity oracle in tests.
    """
    rng = random.Random(seed)
    hosts = [f"mega0.example.org"] + [f"site{i}.example.org" for i in range(1, n_hosts)]
    sizes = _host_sizes(n_pages, n_hosts, skew_exp)

    base_ts = datetime(2025, 1, 1, tzinfo=timezone.utc)

    urls: list[str] = []
    warc_ts: list[datetime] = []
    htmls: list[bytes] = []
    texts: list[str] = []
    langs: list[str] = []
    graph: dict[str, list[tuple[str, str]]] = {}

    row = 0
    for h_idx, host in enumerate(hosts):
        size = sizes[h_idx]
        for j in range(size):
            url, html_bytes, expected, lang, link_items = _page_record(
                rng, hosts, h_idx, j, size, row,
                page_scale, sentinel_every, empty_every,
            )
            urls.append(url)
            warc_ts.append(base_ts + timedelta(seconds=row * 17))
            htmls.append(html_bytes)
            texts.append(expected)
            langs.append(lang)
            # oracle link graph: absolutized document-order links
            abs_links = []
            for href, anchor in link_items:
                if href.startswith("#") or href.startswith("javascript:"):
                    continue
                if href.startswith("/"):
                    abs_url = f"https://{host}{href}"
                else:
                    abs_url = href
                abs_links.append((abs_url, anchor.strip()))
            graph[url] = abs_links
            row += 1

    pages_tbl = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(warc_ts, pa.timestamp("us", tz="UTC")),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
        }
    )
    pq.write_table(pages_tbl, f"{out_dir}/pages.parquet")

    seed_hosts = _write_small_tables(out_dir, hosts)

    # ledger_seed: every `unchanged_every`-th page already processed with
    # its *current* content hash → skip-unchanged path fires
    import hashlib

    from crawler_spark.hashing import xxhash64_str

    led_urls, led_hashes, led_keys = [], [], []
    for i, (u, t) in enumerate(zip(urls, texts)):
        if unchanged_every and i % unchanged_every == 4 and t:
            led_urls.append(u)
            led_hashes.append(hashlib.sha256(t.encode("utf-8")).hexdigest())
            led_keys.append(xxhash64_str(u))
        elif unchanged_every and i % unchanged_every == 9:
            led_urls.append(u)
            led_hashes.append("0" * 64)  # stale hash → changed path
            led_keys.append(xxhash64_str(u))
    ledger_tbl = pa.table(
        {
            "url_hash": pa.array(led_keys, pa.int64()),
            "url": pa.array(led_urls, pa.string()),
            "content_hash": pa.array(led_hashes, pa.string()),
        }
    )
    pq.write_table(ledger_tbl, f"{out_dir}/ledger_seed.parquet")

    return {
        "n_pages": len(urls),
        "hosts": hosts,
        "sizes": sizes,
        "graph": graph,
        "seed_base_urls": [f"https://{h}/" for h in seed_hosts],
    }


def generate_corpus_distributed(
    spark,
    out_dir: str,
    n_pages: int,
    n_hosts: int | None = None,
    seed: int = 42,
    sentinel_every: int = 37,
    unchanged_every: int = 23,
    empty_every: int = 41,
    page_scale: int = 1,
    partitions: int | None = None,
    skew_exp: float = 1.1,
) -> dict:
    """Spark-parallel ``generate_corpus`` for bench-scale corpora (the
    sequential generator builds every page on the driver — ~1.6 ms/page
    and all html in memory at once, i.e. hours and ~50 GB at 4M pages).

    Identical to the sequential generator in everything the engine can
    observe structurally: host list, power-law sizes, url scheme, link
    topology rules, schema, and the deterministic row-cadence markers
    (lang-unknown/sentinel/empty/ledger rows). Page *content* draws from
    a per-row rng seeded ``(seed << 32) ^ row`` instead of one shared
    stream, so bytes differ from ``generate_corpus`` at the same seed but
    are deterministic regardless of partitioning. No oracle link graph is
    returned — materializing it on the driver is exactly the scale limit
    this variant removes (parity tests stay on the sequential path).
    """
    from datetime import datetime, timezone

    import numpy as np
    from pyspark.sql import functions as F

    n_hosts = n_hosts or max(6, n_pages // 2000)
    hosts = ["mega0.example.org"] + [f"site{i}.example.org" for i in range(1, n_hosts)]
    sizes = _host_sizes(n_pages, n_hosts, skew_exp)
    offsets = np.cumsum([0] + sizes)  # row -> host via searchsorted
    base_ts = datetime(2025, 1, 1, tzinfo=timezone.utc)

    parts = partitions or spark.sparkContext.defaultParallelism * 4
    schema = (
        "url string, warc_ts timestamp, html binary, text string, lang string"
    )

    def gen(batches):
        import pandas as pd

        base = pd.Timestamp(base_ts)
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            # bound builder memory: at page_scale 24 a page is ~12 KB of
            # html, so 2000-row chunks keep each yielded frame ~25 MB
            for lo in range(0, len(ids), 2000):
                chunk = ids[lo : lo + 2000]
                h_idxs = np.searchsorted(offsets, chunk, side="right") - 1
                urls, htmls, texts, langs = [], [], [], []
                for row, h_idx in zip(chunk.tolist(), h_idxs.tolist()):
                    j = row - int(offsets[h_idx])
                    rng = random.Random((seed << 32) ^ row)
                    url, html_b, text, lang, _ = _page_record(
                        rng, hosts, h_idx, j, sizes[h_idx], row,
                        page_scale, sentinel_every, empty_every,
                    )
                    urls.append(url)
                    htmls.append(html_b)
                    texts.append(text)
                    langs.append(lang)
                yield pd.DataFrame(
                    {
                        "url": urls,
                        "warc_ts": base + pd.to_timedelta(chunk * 17, unit="s"),
                        "html": htmls,
                        "text": texts,
                        "lang": langs,
                    }
                )

    pages_path = f"{out_dir}/pages.parquet"
    (
        spark.range(0, n_pages, numPartitions=parts)
        .mapInPandas(gen, schema)
        .write.mode("overwrite")
        .parquet(pages_path)
    )

    seed_hosts = _write_small_tables(out_dir, hosts)

    # ledger_seed: same row cadence as the sequential path, computed from
    # the written pages (row is recoverable from warc_ts: base + 17s*row)
    pages = spark.read.parquet(pages_path)
    row_col = (
        (F.unix_timestamp("warc_ts") - F.lit(int(base_ts.timestamp()))) / 17
    ).cast("long")
    led = (
        pages.withColumn("_row", row_col)
        .withColumn("_m", F.pmod("_row", F.lit(unchanged_every)) if unchanged_every else F.lit(-1))
        .filter(
            ((F.col("_m") == 4) & (F.col("text") != ""))
            | (F.col("_m") == 9)
        )
        .select(
            F.xxhash64("url").alias("url_hash"),
            "url",
            F.when(F.col("_m") == 4, F.sha2(F.col("text"), 256))
            .otherwise(F.lit("0" * 64))
            .alias("content_hash"),
        )
        if unchanged_every
        else spark.createDataFrame([], "url_hash long, url string, content_hash string")
    )
    led.coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/ledger_seed.parquet")

    return {
        "n_pages": n_pages,
        "hosts": hosts,
        "sizes": sizes,
        "seed_base_urls": [f"https://{h}/" for h in seed_hosts],
    }


if __name__ == "__main__":
    import json
    import sys

    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/corpus"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 400
    import os

    os.makedirs(out, exist_ok=True)
    m = generate_corpus(out, n_pages=n)
    print(json.dumps({k: v for k, v in m.items() if k != "graph"}, indent=2))
