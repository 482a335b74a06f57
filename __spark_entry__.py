"""Driver contract for the crawler_spark engine.

``queries()`` exposes every SQL-checkable operator family of the engine
(SURVEY §2 inventory) as a (spark, sf_dir) → DataFrame callable over the
driver's testdata tables; ``oracle_sql()`` holds the DuckDB-equivalent
ANSI SQL. Non-SQL-expressible operators (MinHash/LSH, SimHash, ANN-LSH,
rolling-hash fingerprints, multimodal feature plumbing) have queries()
entries without oracle SQL → the driver records a rows-only check; their
strong correctness tests live in tests/ (planted-duplicate corpora,
numpy cross-checks).

Cross-dialect determinism rules used throughout (and mirrored in SQL):
floats rounded at fixed decimals, arrays cast to double before numeric
folds, explicit BIGINT/DOUBLE casts on aggregates (DuckDB sum(int) is
HUGEINT), deterministic ORDER BY tie-breaks on id columns for every
LIMIT query.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# individual queries (each maps to SURVEY §2 operators; aliases match SQL)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """A1-style aggregation baseline (partial/final agg, JVM-only)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2002-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_frontier_window_rank(spark, sf_dir):
    """W1: priority-queue emission as a Window rank (top-3 per host)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("ts"), F.asc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", F.round("value", 2).alias("value"), "rn")
    )


def q_politeness_quota(spark, sf_dir):
    """W3: per-host-per-window fetch budget = least(count, quota)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            "day",
            "n_events",
            F.least(F.col("n_events"), F.lit(5)).cast("long").alias("allowed"),
        )
    )


def q_robots_precedence(spark, sf_dir):
    """W3 (round-4 Allow rules): RFC 9309 §2.2.2 longest-match precedence
    between Allow and Disallow prefixes (politeness.robots_filter). A URL
    is blocked iff its longest matching disallow prefix is STRICTLY
    longer than its longest matching allow prefix; ties go to allow;
    hosts with no rules row are never blocked. Candidates and the
    per-host rule tables are synthesized deterministically from doc_id
    so the DuckDB oracle re-derives them from the same arithmetic."""
    from crawler_spark.operators.politeness import robots_filter

    d = _t(spark, sf_dir, "documents")
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 5).cast("string"), F.lit(".example")
    )
    path = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("/pub/x"), F.col("doc_id")))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("/private/p"), F.col("doc_id")))
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("/private/open/q"), F.col("doc_id")),
        )
        .otherwise(F.lit("/private"))
    )
    cand = d.select(
        "doc_id",
        host.alias("host"),
        F.concat(F.lit("https://"), host, path).alias("canonical_url"),
    )
    rules = spark.createDataFrame(
        [
            # allow deeper than disallow → the subtree reopens
            ("h0.example", ["/private"], ["/private/open"]),
            # disallow-all with an allow carve-out
            ("h1.example", ["/"], ["/pub"]),
            # multiple disallow prefixes, no allow
            ("h2.example", ["/private", "/pub/x1"], []),
            # equal-length tie → allow wins (RFC "SHOULD use the allow")
            ("h3.example", ["/private"], ["/private"]),
            # h4.example has NO rules row → left join null → never blocked
        ],
        "host string, disallow array<string>, allow array<string>",
    )
    return (
        robots_filter(cand, rules)
        .select("doc_id", "host", "canonical_url", "robots_blocked")
        .orderBy("doc_id")
    )


def q_robots_wildcards(spark, sf_dir):
    """W3 (round-4 exact RFC 9309): ``*`` wildcard and ``$`` end-anchor
    rule patterns honored EXACTLY (politeness.robots_filter over
    compile_robots), longest-PATTERN precedence, ties to allow. The
    DuckDB oracle evaluates the same fixed rule set with hand-derived
    anchored regexes + pattern lengths — an independent transcription of
    the RFC semantics, not a reuse of the engine's compiler."""
    from crawler_spark.operators.politeness import robots_filter

    d = _t(spark, sf_dir, "documents")
    host = F.concat(
        F.lit("w"), (F.col("doc_id") % 3).cast("string"), F.lit(".example")
    )
    m = F.col("doc_id") % 6
    path = (
        F.when(m == 0, F.concat(F.lit("/files/a"), F.col("doc_id"), F.lit(".pdf")))
        .when(m == 1, F.concat(F.lit("/files/public/r"), F.col("doc_id"), F.lit(".pdf")))
        .when(m == 2, F.concat(F.lit("/cgi-bin/q"), F.col("doc_id")))
        .when(m == 3, F.lit("/page"))
        .when(m == 4, F.concat(F.lit("/page"), F.col("doc_id")))
        .otherwise(F.concat(F.lit("/open/"), F.col("doc_id")))
    )
    cand = d.select(
        "doc_id",
        host.alias("host"),
        F.concat(F.lit("https://"), host, path).alias("canonical_url"),
    )
    rules = spark.createDataFrame(
        [
            # wildcard disallows vs a LONGER wildcard allow (19 > 12)
            ("w0.example", ["/files/*.pdf", "/cgi*"], ["/files/public/*.pdf"]),
            # $ anchor + block-all '*', with a plain allow carve-out
            ("w1.example", ["/page$", "*"], ["/open"]),
            # w2.example has NO rules row → never blocked
        ],
        "host string, disallow array<string>, allow array<string>",
    )
    return (
        robots_filter(cand, rules)
        .select("doc_id", "host", "canonical_url", "robots_blocked")
        .orderBy("doc_id")
    )


def q_kb_aggregate(spark, sf_dir):
    """A1/L3: KB pattern aggregate — sum/count/round(avg,3)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.sum("value"), 2).alias("total_score"),
        F.count("*").alias("count"),
        F.round(F.avg("value"), 3).alias("avg_score"),
    )


def q_link_filter(spark, sf_dir):
    """F1+F3: URL validity / exclusion regexes over synthesized URLs."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.org/"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("login"))
        .when(F.col("doc_id") % 7 == 1, F.lit("member/area"))
        .when(F.col("doc_id") % 7 == 2, F.concat(F.lit("files/r"), F.col("doc_id"), F.lit(".pdf")))
        .otherwise(F.concat(F.lit("page/"), F.col("doc_id"))),
    )
    df = d.select("doc_id", url.alias("url"))
    keep = (
        ~F.col("url").rlike("/login|/member|/join|/policy|/recruit|/sitemap|/auth|/cart|/order")
        & ~F.col("url").rlike(r"\.(pdf|hwp|zip|rar|exe|dmg|jpg|png|gif|mp4|mp3|doc|docx|xls|xlsx|ppt|pptx)$")
    )
    return df.filter(keep).select("doc_id", "url")


def q_ledger_changed(spark, sf_dir):
    """F8: content-hash change detection (sha2 join-compare)."""
    d = _t(spark, sf_dir, "documents")
    old_hash = F.when(
        F.col("doc_id") % 2 == 0, F.sha2(F.col("text"), 256)
    ).otherwise(F.sha2(F.lit("stale"), 256))
    return (
        d.select("doc_id", old_hash.alias("old_hash"), F.sha2(F.col("text"), 256).alias("new_hash"))
        .filter(F.col("old_hash") != F.col("new_hash"))
        .select("doc_id", "new_hash")
    )


def q_seen_antijoin(spark, sf_dir):
    """F7/Q3: seen-set membership as a left anti-join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select("c_custkey", "c_name")


def q_dedup_exact(spark, sf_dir):
    """Exact dedup groups: hash-groupBy representative selection."""
    from crawler_spark.operators.dedup import exact_dedup_groups

    d = _t(spark, sf_dir, "documents")
    return exact_dedup_groups(d).select(
        "content_hash", "representative", "n_dups"
    )


def q_packet_truncate(spark, sf_dir):
    """E16: packet text truncation to 500 chars + ellipsis."""
    from crawler_spark.functions.urlfns import truncate_packet_text

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length(truncate_packet_text(F.col("text"))).alias("trunc_len"),
        F.substring(F.col("text"), 1, 40).alias("head40"),
    )


def q_site_identifier(spark, sf_dir):
    """E10: site-identifier derivation from hostnames."""
    d = _t(spark, sf_dir, "documents")
    host = F.when(
        F.col("doc_id") % 3 == 0, F.concat(F.col("source"), F.lit(".co.kr"))
    ).otherwise(F.concat(F.col("source"), F.lit(".portal.example.org")))
    parts = F.split(host, "\\.")
    ident = F.when(
        (F.size(parts) > 2) & ~F.element_at(parts, 2).isin("co", "go", "or"),
        F.concat(F.element_at(parts, 2), F.lit("_"), F.element_at(parts, 1)),
    ).otherwise(F.element_at(parts, 1))
    return d.select("doc_id", F.regexp_replace(ident, "-", "_").alias("site_id"))


def q_token_stats(spark, sf_dir):
    """Text analysis: token counts + char counts (JVM columnar)."""
    from crawler_spark.operators.textstats import token_count

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


def q_lang_quality(spark, sf_dir):
    """Language-ID heuristic + bucketed quality score (E13 columnar)."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    hangul = F.length(F.regexp_replace(t, "[^가-힣]", ""))
    latin = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    total = hangul + latin
    lang = (
        F.when(total == 0, F.lit("unknown"))
        .when(hangul / total >= 0.3, F.lit("ko"))
        .otherwise(F.lit("en"))
    )
    n_chars = F.length(t)
    quality = (
        F.when(n_chars > 1000, F.lit(0.4))
        .when(n_chars > 500, F.lit(0.3))
        .when(n_chars > 100, F.lit(0.2))
        .otherwise(F.lit(0.0))
    )
    return d.select("doc_id", lang.alias("lang_pred"), quality.alias("quality"))


def q_similarity_topk(spark, sf_dir):
    """Brute-force cosine top-10 vs the vec_id=0 embedding (double math)."""
    e = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    row = e.filter(F.col("vec_id") == 0).select("embedding").first()
    query = row["embedding"]
    from crawler_spark.operators.similarity import cosine_topk

    return cosine_topk(e, query, k=10)


def q_embedding_neardup(spark, sf_dir):
    """Embedding near-dup pairs — the EXACT operator (brute-force
    all-pairs JVM cosine) as the correctness contract, matching the
    brute-force DuckDB oracle by construction. The approximate LSH
    scale path is a separate entry (``embedding_neardup_lsh``) checked
    by recall tests + throughput bench, never by exact set equality:
    LSH recall < 1 in general, so tying the correctness gate to tuned
    band parameters would silently break on any corpus/seed change."""
    from crawler_spark.operators.similarity import embedding_neardup_exact

    e = (
        _t(spark, sf_dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .select("vec_id", "embedding")
    )
    return embedding_neardup_exact(e, threshold=0.4)


def q_events_hourly(spark, sf_dir):
    """Streaming-analog windowed aggregation (tumbling hour)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def q_json_props(spark, sf_dir):
    """JSON scalar extraction from the props column."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    ).filter(F.col("k_val") > 50)


def q_broadcast_join_enrich(spark, sf_dir):
    """Seed-config broadcast-join enrichment (D1 seeds ⋈ pages analog)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q_salted_topk_skew(spark, sf_dir):
    """Salted two-phase aggregation (skew-breaker shape): partial agg on
    (key, salt) then final merge — same result as a direct groupBy."""
    ev = _t(spark, sf_dir, "events")
    partial = (
        ev.withColumn("_salt", F.pmod(F.xxhash64("event_id"), F.lit(8)))
        .groupBy("event_type", "_salt")
        .agg(F.sum("value").alias("_s"), F.count("*").alias("_n"))
    )
    return partial.groupBy("event_type").agg(
        F.round(F.sum("_s"), 2).alias("total_value"),
        F.sum("_n").alias("n"),
    )


# --- rows-only entries (no SQL equivalent; verified in tests/) -------------

def q_minhash_pairs(spark, sf_dir):
    """MinHash-LSH candidates → exact-Jaccard verify. DuckDB-checked
    against an INDEPENDENT brute-force exact-Jaccard pair fixture
    (tests/gen_fixtures.py, zero crawler_spark imports): the corpus's
    qualifying pairs sit at j ≈ 0.9–1.0 where the (k=64, bands=16, r=4)
    banding's miss probability is ≤ (1−0.9⁴)¹⁶ ≈ 5e−8, so recall is 1.0
    here and the verification step makes precision exactly 1 — the
    approximate pipeline must equal the brute-force set."""
    from crawler_spark.operators.dedup import minhash_dedup_pairs

    d = _t(spark, sf_dir, "documents")
    return minhash_dedup_pairs(d, threshold=0.5, k=64, bands=16)


def q_embedding_neardup_lsh(spark, sf_dir):
    """The approximate LSH scale path (banded hyperplane signatures,
    exact cosine on candidates — precision exactly 1, recall bounded by
    the banding). DuckDB-checked against the SAME brute-force oracle as
    ``embedding_neardup``, justified the way ``minhash_pairs`` is: a
    qualifying pair at the worst case (cosine exactly 0.4, θ = acos 0.4)
    shares one 2-bit band with p = (1−θ/π)² ≈ 0.398, so at 32 bands its
    miss probability is ≤ (1−0.398)³² ≈ 8.7e−8 — union-bounded over the
    sf0.01 corpus's 59 qualifying pairs that is ≤ 5.1e−6, and pairs
    above the threshold are strictly safer. Exact cosine is recomputed
    on candidates, so any recalled pair carries the oracle's value.
    Recall 1.0 verified on this corpus (test_similarity_textstats.py);
    throughput/scaling in BENCH/EMB_SCALE.md (a retired bench study;
    BENCH/BASELINE.md's evidence index says how to re-run it).
    Scale note: at this LOW threshold the banding prunes little (the
    operator docstring derives why — near-orthogonal 'duplicates' are
    not LSH-friendly); production near-dup thresholds (≥0.9) are the
    pruning regime that study measured."""
    from crawler_spark.operators.similarity import embedding_neardup_pairs

    e = (
        _t(spark, sf_dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .select("vec_id", "embedding")
    )
    return embedding_neardup_pairs(
        e, threshold=0.4, n_bands=32, bits_per_band=2, seed=42
    )


def q_simhash_pairs(spark, sf_dir):
    """ALL pairs with Hamming(simhash) ≤ 12 — the distance-derived
    pigeonhole banding (13 blocks) is recall-complete at the requested
    distance, so the output is deterministic and exactly checkable:
    the DuckDB oracle is an independent pure-int SimHash
    reimplementation brute-forcing every pair (tests/gen_fixtures.py)."""
    from crawler_spark.operators.dedup import simhash_pairs

    d = _t(spark, sf_dir, "documents")
    return simhash_pairs(d, max_hamming=12)


def q_ann_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH ANN probe (query bucket + Hamming-1 multiprobe,
    exact cosine inside). Deterministic given the seeded planes, so the
    DuckDB oracle is an independent evaluation of the same probe spec
    (tests/gen_fixtures.py ann_lsh_topk_independent)."""
    from crawler_spark.operators.similarity import ann_topk_lsh

    e = _t(spark, sf_dir, "embeddings")
    row = e.filter(F.col("vec_id") == 0).select("embedding").first()
    return ann_topk_lsh(e, list(row["embedding"]), k=10, n_bits=8)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN probe (hash-selected unit centroids, float64 gemv cell
    assignment, 4-of-16 cells probed, exact cosine inside). Fully
    deterministic spec, so the DuckDB oracle is an independent numpy
    evaluation of the same spec (tests/gen_fixtures.py
    ann_ivf_topk_independent). n_probe = n_cells would equal brute-force
    cosine_topk exactly; 4/16 exercises the real pruned-probe path."""
    from crawler_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    row = e.filter(F.col("vec_id") == 1).select("embedding").first()
    return ivf_topk(e, list(row["embedding"]), k=10, n_cells=16, n_probe=4)


def q_doc_fingerprint(spark, sf_dir):
    from crawler_spark.operators.textstats import fingerprint_udf

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint_udf(8)(F.col("text")).alias("fingerprint"))


def q_density_extract(spark, sf_dir):
    """E4 density extractor over synthesized HTML from documents.text."""
    from crawler_spark.functions.html_extract import extract_density_udf

    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><body><div class='content'><p>"),
        F.col("text"),
        F.lit("</p></div><footer>Copyright x</footer></body></html>"),
    ).cast("binary")
    return d.select(
        "doc_id",
        F.length(
            extract_density_udf(
                html, F.lit("https://d.example.org/x"), F.lit("d.example.org")
            )["text"]
        ).alias("extracted_len"),
    )


def q_multimodal_features(spark, sf_dir):
    from crawler_spark.operators.multimodal import extract_features, synth_media

    media = synth_media(spark, n=48)
    feats = extract_features(media, fake=True)
    return feats.select(
        "asset_id", "kind", "n_bytes", F.round(F.element_at("feature", 1), 4).alias("f0")
    )


def q_gate_cascade(spark, sf_dir):
    """The phase-2 gate cascade (F10→L1→L2→F12) over the documents table."""
    from crawler_spark.functions.scoring import (
        analyze_udf,
        gatekeeper_udf,
        low_quality_udf,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "instruction", F.lit("data query batch window partition")
    )
    s1 = d.withColumn("low_q", low_quality_udf("text")).filter(~F.col("low_q"))
    s2 = s1.withColumn("rel", gatekeeper_udf("text", "instruction")).filter("rel")
    s3 = s2.withColumn("a", analyze_udf("text", "instruction"))
    return s3.select(
        "doc_id",
        F.col("a.relevance_score").alias("relevance_score"),
        F.col("a.language").alias("language"),
    ).filter(F.col("relevance_score") >= 0.2)


def q_quality_gopher(spark, sf_dir):
    """Gopher-style repetition/quality stats per document (row-local
    sorted-gram passes, zero shuffles; see operators/curation.py)."""
    from crawler_spark.operators.curation import gopher_stats

    return gopher_stats(_t(spark, sf_dir, "documents"))


def q_pii_redact(spark, sf_dir):
    """PII count + redaction parity. The word-soup corpus carries no
    natural PII, so the query deterministically injects an email /
    phone / IPv4 per doc_id residue class (so counts vary 0/1) and both
    sides redact the SAME enriched text — the hash pins that the Java
    and RE2 regex engines agree byte-for-byte on the redaction chain."""
    from crawler_spark.operators.curation import pii_redact

    d = _t(spark, sf_dir, "documents")
    enriched = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 > 0,
                F.concat(
                    F.lit(" Contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 4 > 0,
                F.concat(
                    F.lit(" tel +1-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 > 0,
                F.concat(
                    F.lit(" ip 192.168."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".42"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_redact(enriched)


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs with doc_id % 50 == 0 stand in
    for a benchmark suite; every other doc reports how many of its
    distinct 8-gram shingles the 'benchmark' contains (broadcast
    semi-structure — see operators/curation.py)."""
    from crawler_spark.operators.curation import decontaminate

    d = _t(spark, sf_dir, "documents")
    return decontaminate(
        d.filter(F.col("doc_id") % 50 != 0),
        d.filter(F.col("doc_id") % 50 == 0),
        k=8,
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic content-keyed stratified sampling: down-sample
    dominant languages, keep rare ones — reproducible under any
    partitioning / cluster size because the keep decision is
    substring(sha256(text),1,8) < per-lang threshold, a pure function
    of the row (operators/curation.py). The sample_key rides the output
    so the oracle pins hash parity byte-for-byte."""
    from crawler_spark.operators.curation import deterministic_sample

    d = _t(spark, sf_dir, "documents")
    return deterministic_sample(
        d, {"en": 0.25, "zh": 0.5, "*": 0.75}, stratum_col="lang"
    ).select("doc_id", "lang", "sample_key")


def q_token_budget(spark, sf_dir):
    """Token-budget corpus packing: keep the best documents (score =
    n_chars here, ties by doc_id) until the cumulative token count
    exceeds 8000 — the 'pack the best B tokens' curation step, computed
    with the two-phase bucketed cumulative sum (NO global single-reducer
    window; operators/curation.py token_budget_pack)."""
    from crawler_spark.operators.curation import token_budget_pack
    from crawler_spark.operators.textstats import token_count

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("score"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return token_budget_pack(d, budget=8000, score_col="score")


def q_host_cap(spark, sf_dir):
    """Host-diversity cap: at most 20 docs per source (the host analog
    in the documents table), best n_chars first, ties by doc_id —
    reusing the wave-batch distributed top-k so a mega-host never sorts
    in one reducer (operators/curation.py host_cap)."""
    from crawler_spark.operators.curation import host_cap

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("source").alias("host"),
        F.col("n_chars").cast("long").alias("score"),
    )
    return host_cap(d, n=20)


def q_substring_dedup(spark, sf_dir):
    """Substring-level dedup (dedup.substring_dedup_spans): maximal
    token spans covered by word 12-grams occurring in ≥2 distinct docs
    — the Lee-et-al-2022 span dedup mode, re-expressed as mark-and-
    merge over duplicated grams. The word-soup corpus shares no long
    runs naturally, so the query plants them deterministically: a
    14-token disclaimer prefix on every doc_id%4==0 doc and an 18-token
    subscription tail whose channel digit is doc_id%10 (same-class docs
    share the whole tail; ALL docs share its 14-token suffix). The
    DuckDB oracle is a brute-force fixture over gram STRINGS
    (tests/gen_fixtures.py substring_spans_independent — dict counting
    + plain-Python interval merge, no hashing, no Spark)."""
    from crawler_spark.operators.dedup import substring_dedup_spans

    d = _t(spark, sf_dir, "documents")
    pre = (
        "terms of service apply to all content reproduced herein "
        "without warranty of any kind"
    )
    corpus = d.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 4 == 0, F.lit(pre + " ")).otherwise(F.lit("")),
            F.col("text"),
            F.lit(" subscribe to channel "),
            (F.col("doc_id") % 10).cast("string"),
            F.lit(
                " for the latest updates and breaking news delivered "
                "straight to your inbox daily"
            ),
        ).alias("text"),
    )
    return substring_dedup_spans(corpus, min_tokens=12)


def q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram-Jaccard near-dup pairs (dedup.ngram_jaccard_pairs):
    inverted-index self-join on hashed word 3-grams, exact Jaccard from
    per-pair intersection counts. The DuckDB oracle brute-forces the
    same definition over the 3-gram STRINGS (the engine hashes grams to
    64 bits first — splitmix64-mixed crc32, collision probability over
    this corpus « 1e-9, so distinct-hash counts equal distinct-gram
    counts). Same corpus + threshold as ``minhash_pairs``, whose banding
    recall is 1.0 here, so the two entries must agree — and the oracle
    checks this path with no banding assumption at all."""
    from crawler_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, threshold=0.5, n=3)


def q_curate_packets(spark, sf_dir):
    """The packet-curation composition (curation.curate_packets):
    Gopher repetition gate routes packets to kept/failed, and kept
    packet text is PII-redacted before it would land in a sink. PII is
    injected deterministically per doc_id residue (the corpus carries
    none naturally) so the redaction chain is exercised; the output
    unions both routes with a status column so the oracle pins the
    gate decision AND byte-identical redacted text in one hash."""
    from crawler_spark.operators.curation import curate_packets

    d = _t(spark, sf_dir, "documents")
    packets = d.select(
        F.col("doc_id").alias("packet_id"),
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 > 0,
                F.concat(
                    F.lit(" Contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 4 > 0,
                F.concat(
                    F.lit(" tel +1-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("extracted_text"),
    )
    kept, failed = curate_packets(packets)
    return kept.select(
        "packet_id",
        F.lit("kept").alias("status"),
        F.col("extracted_text").alias("text"),
    ).unionByName(
        failed.select(
            "packet_id",
            F.lit("failed").alias("status"),
            F.col("extracted_text").alias("text"),
        )
    )


def q_line_dedup(spark, sf_dir):
    """C4/RefinedWeb-style corpus-level duplicated-line removal. The
    word-soup documents are single-line, so the query deterministically
    appends boilerplate lines — one shared by EVERY doc, one shared per
    doc_id%10 class — and line_dedup must keep each exactly once (first
    (doc_id, pos) occurrence) while ineligible short lines survive
    everywhere. Exact contract, no approximation (operators/dedup.py
    scale notes)."""
    from crawler_spark.operators.dedup import line_dedup

    d = _t(spark, sf_dir, "documents")
    corpus = d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("\nCopyright Example Corp. All rights reserved."),
            F.lit("\nSubscribe to the group "),
            (F.col("doc_id") % 10).cast("string"),
            F.lit(" newsletter for updates."),
            F.lit("\n- menu -"),
        ).alias("text"),
    )
    return line_dedup(corpus)


# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: frontier-analytics composite — window rank (priority
    queue) + broadcast dim join + budget agg on sf0.001."""
    sf = SF_DEFAULT
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), "ts", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    return (
        ranked.groupBy("user_id")
        .agg(
            F.count("*").alias("selected"),
            F.round(F.sum("value"), 2).alias("budget_value"),
        )
        .orderBy("user_id")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": q_pricing_summary,
        "frontier_window_rank": q_frontier_window_rank,
        "politeness_quota": q_politeness_quota,
        "robots_precedence": q_robots_precedence,
        "robots_wildcards": q_robots_wildcards,
        "kb_aggregate": q_kb_aggregate,
        "link_filter": q_link_filter,
        "ledger_changed": q_ledger_changed,
        "seen_antijoin": q_seen_antijoin,
        "dedup_exact": q_dedup_exact,
        "packet_truncate": q_packet_truncate,
        "site_identifier": q_site_identifier,
        "token_stats": q_token_stats,
        "lang_quality": q_lang_quality,
        "similarity_topk": q_similarity_topk,
        "embedding_neardup": q_embedding_neardup,
        "events_hourly": q_events_hourly,
        "json_props": q_json_props,
        "broadcast_join_enrich": q_broadcast_join_enrich,
        "salted_topk_skew": q_salted_topk_skew,
        "minhash_pairs": q_minhash_pairs,
        "simhash_pairs": q_simhash_pairs,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "embedding_neardup_lsh": q_embedding_neardup_lsh,
        "doc_fingerprint": q_doc_fingerprint,
        "multimodal_features": q_multimodal_features,
        "density_extract": q_density_extract,
        "gate_cascade": q_gate_cascade,
        "quality_gopher": q_quality_gopher,
        "pii_redact": q_pii_redact,
        "decontaminate": q_decontaminate,
        "substring_dedup": q_substring_dedup,
        "ngram_jaccard": q_ngram_jaccard,
        "curate_packets": q_curate_packets,
        "line_dedup": q_line_dedup,
        "stratified_sample": q_stratified_sample,
        "token_budget": q_token_budget,
        "host_cap": q_host_cap,
    }


def oracle_sql() -> dict[str, str]:
    return {
        # Fixture-backed oracles for deterministic pure functions (the
        # driver contract runs at sf0.01; fixtures generated by
        # tests/gen_fixtures.py, which imports NOTHING from
        # crawler_spark — every fixture is an independent
        # reimplementation: winnowing fingerprint, gate-cascade
        # formulas, density final-clean line filter, brute-force
        # exact-Jaccard pairs).
        "doc_fingerprint": """
            SELECT doc_id, fingerprint
            FROM read_parquet('/root/repo/tests/fixtures/doc_fingerprint_sf0.01.parquet')
        """,
        "density_extract": """
            SELECT doc_id, extracted_len
            FROM read_parquet('/root/repo/tests/fixtures/density_extract_sf0.01.parquet')
        """,
        "gate_cascade": """
            SELECT doc_id, relevance_score, language
            FROM read_parquet('/root/repo/tests/fixtures/gate_cascade_sf0.01.parquet')
        """,
        "minhash_pairs": """
            SELECT id_a, id_b, round(jaccard, 6) AS jaccard
            FROM read_parquet('/root/repo/tests/fixtures/minhash_pairs_sf0.01.parquet')
        """,
        "simhash_pairs": """
            SELECT id_a, id_b, hamming
            FROM read_parquet('/root/repo/tests/fixtures/simhash_pairs_sf0.01.parquet')
        """,
        "ann_lsh_topk": """
            SELECT vec_id, cosine
            FROM read_parquet('/root/repo/tests/fixtures/ann_lsh_topk_sf0.01.parquet')
        """,
        "ann_ivf_topk": """
            SELECT vec_id, cosine
            FROM read_parquet('/root/repo/tests/fixtures/ann_ivf_topk_sf0.01.parquet')
        """,
        "multimodal_features": """
            SELECT asset_id, kind, n_bytes, f0
            FROM read_parquet('/root/repo/tests/fixtures/multimodal_features_sf0.01.parquet')
        """,
        "substring_dedup": """
            SELECT doc_id, span_start, span_end, span_tokens
            FROM read_parquet('/root/repo/tests/fixtures/substring_dedup_sf0.01.parquet')
        """,
        "quality_gopher": """
            WITH base AS (
              SELECT doc_id,
                     regexp_extract_all(coalesce(text, ''), '\\S+') AS w,
                     coalesce(text, '') AS t
              FROM documents
            ),
            stats AS (
              SELECT doc_id,
                     len(w)::BIGINT AS n_words,
                     round(CASE WHEN len(w) > 0
                                THEN length(regexp_replace(t, '\\s+', '', 'g'))::DOUBLE / len(w)
                                ELSE 0.0 END, 6) AS mean_word_len,
                     CASE WHEN len(w) >= 2
                          THEN list_transform(generate_series(1, len(w) - 1),
                                              i -> array_to_string(w[i:i+1], ' '))
                          ELSE [] END AS g2,
                     CASE WHEN len(w) >= 3
                          THEN list_transform(generate_series(1, len(w) - 2),
                                              i -> array_to_string(w[i:i+2], ' '))
                          ELSE [] END AS g3
              FROM base
            ),
            t2 AS (
              SELECT doc_id, max(c)::BIGINT AS top2, sum(c)::BIGINT AS tot2
              FROM (SELECT doc_id, g, count(*) AS c
                    FROM (SELECT doc_id, unnest(g2) AS g FROM stats)
                    GROUP BY doc_id, g)
              GROUP BY doc_id
            ),
            t3 AS (
              SELECT doc_id, count(*)::BIGINT AS tot3,
                     count(DISTINCT g)::BIGINT AS dist3
              FROM (SELECT doc_id, unnest(g3) AS g FROM stats)
              GROUP BY doc_id
            ),
            fr AS (
              SELECT s.doc_id, s.n_words, s.mean_word_len,
                     round(coalesce(t2.top2::DOUBLE / t2.tot2, 0.0), 6) AS frac_top2gram,
                     round(coalesce((t3.tot3 - t3.dist3)::DOUBLE / t3.tot3, 0.0), 6) AS frac_dup3gram
              FROM stats s
              LEFT JOIN t2 USING (doc_id)
              LEFT JOIN t3 USING (doc_id)
            )
            SELECT doc_id, n_words, mean_word_len, frac_top2gram, frac_dup3gram,
                   (n_words BETWEEN 40 AND 100000
                    AND mean_word_len BETWEEN 2.0 AND 12.0
                    AND frac_top2gram <= 0.20
                    AND frac_dup3gram <= 0.30)::INT AS gopher_pass
            FROM fr
        """,
        "pii_redact": """
            WITH enriched AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 3 > 0
                             THEN ' Contact user' || doc_id::VARCHAR || '@example.com'
                             ELSE '' END
                     || CASE WHEN doc_id % 4 > 0
                             THEN ' tel +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                             ELSE '' END
                     || CASE WHEN doc_id % 5 > 0
                             THEN ' ip 192.168.' || (doc_id % 256)::VARCHAR || '.42'
                             ELSE '' END AS text
              FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
                   len(regexp_extract_all(text, '\\+?\\d[\\d -]{7,}\\d'))::BIGINT AS n_phones,
                   len(regexp_extract_all(text, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b'))::BIGINT AS n_ips,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(text,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\\+?\\d[\\d -]{7,}\\d', '<PHONE>', 'g'),
                     '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g') AS redacted
            FROM enriched
        """,
        "decontaminate": """
            WITH base AS (
              SELECT doc_id,
                     regexp_extract_all(coalesce(text, ''), '\\S+') AS w
              FROM documents
            ),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct(
                       CASE WHEN len(w) >= 8
                            THEN list_transform(generate_series(1, len(w) - 7),
                                                i -> array_to_string(w[i:i+7], ' '))
                            WHEN len(w) > 0 THEN [array_to_string(w, ' ')]
                            ELSE [] END)) AS shingle
              FROM base
            ),
            bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
            rest AS (SELECT * FROM sh WHERE doc_id % 50 <> 0)
            SELECT r.doc_id,
                   count(*)::BIGINT AS n_shingles,
                   sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_contaminated,
                   (sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) > 0)::INT AS contaminated
            FROM rest r
            LEFT JOIN bench b USING (shingle)
            GROUP BY r.doc_id
        """,
        "host_cap": """
            SELECT doc_id, host, score, host_rank
            FROM (
                SELECT doc_id, source AS host, n_chars::BIGINT AS score,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY n_chars DESC, doc_id)::INT
                           AS host_rank
                FROM documents
            ) WHERE host_rank <= 20
        """,
        # independent formulation: ONE global cumulative-sum window
        # (fine at oracle scale; the engine's two-phase bucketed plan
        # exists precisely because this window dies at corpus scale)
        "token_budget": """
            WITH t AS (
                SELECT doc_id, n_chars::BIGINT AS score,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                       END::BIGINT AS n_tokens
                FROM documents
            )
            SELECT doc_id, score, n_tokens, cum_tokens
            FROM (
                SELECT *, sum(n_tokens) OVER (
                    ORDER BY score DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                )::BIGINT AS cum_tokens
                FROM t
            )
            WHERE cum_tokens <= 8000
        """,
        # 0.25 -> 16^8*0.25 = 0x40000000, 0.5 -> 0x80000000,
        # 0.75 -> 0xc0000000; plain string compare on lowercase hex —
        # byte-identical semantics across Spark sha2 and DuckDB sha256
        "stratified_sample": """
            SELECT doc_id, lang, substr(sha256(coalesce(text,'')), 1, 8) AS sample_key
            FROM documents
            WHERE substr(sha256(coalesce(text,'')), 1, 8) <
                  CASE WHEN lang = 'en' THEN '40000000'
                       WHEN lang = 'zh' THEN '80000000'
                       ELSE 'c0000000' END
        """,
        # brute-force over 3-gram STRINGS (the engine's 64-bit gram
        # hashing is collision-free at this corpus size, so distinct
        # counts agree); inverted-index join mirrors the pair algebra
        "ngram_jaccard": """
            WITH base AS (
              SELECT doc_id,
                     regexp_extract_all(coalesce(text, ''), '\\S+') AS w
              FROM documents
            ),
            sh AS (
              SELECT doc_id,
                     list_distinct(
                       CASE WHEN len(w) >= 3
                            THEN list_transform(generate_series(1, len(w) - 2),
                                                i -> array_to_string(w[i:i+2], ' '))
                            WHEN len(w) > 0 THEN [array_to_string(w, ' ')]
                            ELSE [] END) AS grams
              FROM base
            ),
            ex AS (
              SELECT doc_id, len(grams)::BIGINT AS n, unnest(grams) AS g
              FROM sh WHERE len(grams) > 0
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(count(*)::DOUBLE /
                         (any_value(a.n) + any_value(b.n) - count(*)), 6) AS jaccard
            FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*)::DOUBLE /
                   (any_value(a.n) + any_value(b.n) - count(*)) >= 0.5
        """,
        # gopher gate (same CTE chain as quality_gopher, over the
        # PII-enriched packet text) routes kept/failed; kept text gets
        # the same fixed-order redaction chain as pii_redact
        "curate_packets": """
            WITH enriched AS (
              SELECT doc_id AS packet_id,
                     text
                     || CASE WHEN doc_id % 3 > 0
                             THEN ' Contact user' || doc_id::VARCHAR || '@example.com'
                             ELSE '' END
                     || CASE WHEN doc_id % 4 > 0
                             THEN ' tel +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                             ELSE '' END AS text
              FROM documents
            ),
            base AS (
              SELECT packet_id,
                     regexp_extract_all(coalesce(text, ''), '\\S+') AS w,
                     coalesce(text, '') AS t
              FROM enriched
            ),
            stats AS (
              SELECT packet_id,
                     len(w)::BIGINT AS n_words,
                     round(CASE WHEN len(w) > 0
                                THEN length(regexp_replace(t, '\\s+', '', 'g'))::DOUBLE / len(w)
                                ELSE 0.0 END, 6) AS mean_word_len,
                     CASE WHEN len(w) >= 2
                          THEN list_transform(generate_series(1, len(w) - 1),
                                              i -> array_to_string(w[i:i+1], ' '))
                          ELSE [] END AS g2,
                     CASE WHEN len(w) >= 3
                          THEN list_transform(generate_series(1, len(w) - 2),
                                              i -> array_to_string(w[i:i+2], ' '))
                          ELSE [] END AS g3
              FROM base
            ),
            t2 AS (
              SELECT packet_id, max(c)::BIGINT AS top2, sum(c)::BIGINT AS tot2
              FROM (SELECT packet_id, g, count(*) AS c
                    FROM (SELECT packet_id, unnest(g2) AS g FROM stats)
                    GROUP BY packet_id, g)
              GROUP BY packet_id
            ),
            t3 AS (
              SELECT packet_id, count(*)::BIGINT AS tot3,
                     count(DISTINCT g)::BIGINT AS dist3
              FROM (SELECT packet_id, unnest(g3) AS g FROM stats)
              GROUP BY packet_id
            ),
            gate AS (
              SELECT s.packet_id,
                     (s.n_words BETWEEN 40 AND 100000
                      AND s.mean_word_len BETWEEN 2.0 AND 12.0
                      AND round(coalesce(t2.top2::DOUBLE / t2.tot2, 0.0), 6) <= 0.20
                      AND round(coalesce((t3.tot3 - t3.dist3)::DOUBLE / t3.tot3, 0.0), 6) <= 0.30)
                         AS p
              FROM stats s
              LEFT JOIN t2 USING (packet_id)
              LEFT JOIN t3 USING (packet_id)
            )
            SELECT e.packet_id,
                   CASE WHEN g.p THEN 'kept' ELSE 'failed' END AS status,
                   CASE WHEN g.p THEN
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(e.text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                         '\\+?\\d[\\d -]{7,}\\d', '<PHONE>', 'g'),
                       '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g')
                   ELSE e.text END AS text
            FROM enriched e JOIN gate g USING (packet_id)
        """,
        # independent formulation: window row_number per trimmed line
        # (DuckDB-side; the engine deliberately uses a skew-safe
        # groupBy-min instead — same semantics, different plan)
        "line_dedup": """
            WITH corpus AS (
                SELECT doc_id,
                       coalesce(text, '')
                       || chr(10) || 'Copyright Example Corp. All rights reserved.'
                       || chr(10) || 'Subscribe to the group ' || (doc_id % 10)
                       || ' newsletter for updates.'
                       || chr(10) || '- menu -' AS text
                FROM documents
            ), occ AS (
                SELECT doc_id,
                       generate_subscripts(string_split(text, chr(10)), 1) AS pos,
                       unnest(string_split(text, chr(10))) AS line
                FROM corpus
            ), normed AS (
                -- ASCII-whitespace trim, same class as the engine
                SELECT doc_id, pos, line,
                       regexp_replace(line,
                           '^[ \t\r\n\f]+|[ \t\r\n\f]+$', '', 'g') AS norm
                FROM occ
            ), tagged AS (
                SELECT doc_id, pos, line,
                       length(norm) >= 15 AS eligible,
                       row_number() OVER (PARTITION BY norm
                                          ORDER BY doc_id, pos) AS rn
                FROM normed
            )
            SELECT doc_id,
                   coalesce(string_agg(
                       CASE WHEN NOT eligible OR rn = 1 THEN line END,
                       chr(10) ORDER BY pos), '') AS text,
                   count(*)::BIGINT AS n_lines,
                   sum(CASE WHEN eligible AND rn > 1 THEN 1 ELSE 0 END)::BIGINT
                       AS n_removed
            FROM tagged
            GROUP BY doc_id
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*)::BIGINT AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2002-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "frontier_window_rank": """
            SELECT user_id, event_id, round(value, 2) AS value, rn::INT AS rn
            FROM (
                SELECT user_id, event_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY value DESC, ts ASC, event_id ASC) AS rn
                FROM events
            ) WHERE rn <= 3
        """,
        "politeness_quota": """
            SELECT user_id, date_trunc('day', ts)::TIMESTAMP AS day,
                   count(*)::BIGINT AS n_events,
                   least(count(*), 5)::BIGINT AS allowed
            FROM events GROUP BY user_id, date_trunc('day', ts)
        """,
        "robots_precedence": """
            WITH cand AS (
                SELECT doc_id,
                       'h' || (doc_id % 5) || '.example' AS host,
                       CASE WHEN doc_id % 4 = 0 THEN '/pub/x' || doc_id
                            WHEN doc_id % 4 = 1 THEN '/private/p' || doc_id
                            WHEN doc_id % 4 = 2 THEN '/private/open/q' || doc_id
                            ELSE '/private' END AS path
                FROM documents
            ), rules AS (
                SELECT * FROM (VALUES
                    ('h0.example', ['/private'], ['/private/open']),
                    ('h1.example', ['/'], ['/pub']),
                    ('h2.example', ['/private', '/pub/x1'], []::VARCHAR[]),
                    ('h3.example', ['/private'], ['/private'])
                ) AS t(host, disallow, allow)
            )
            SELECT c.doc_id, c.host,
                   'https://' || c.host || c.path AS canonical_url,
                   COALESCE(
                     COALESCE(list_max(list_transform(
                         list_filter(r.disallow, p -> starts_with(c.path, p)),
                         p -> length(p))), -1)
                     >
                     COALESCE(list_max(list_transform(
                         list_filter(r.allow, p -> starts_with(c.path, p)),
                         p -> length(p))), -1),
                     FALSE) AS robots_blocked
            FROM cand c LEFT JOIN rules r USING (host)
            ORDER BY doc_id
        """,
        "robots_wildcards": """
            WITH cand AS (
                SELECT doc_id,
                       'w' || (doc_id % 3) || '.example' AS host,
                       CASE WHEN doc_id % 6 = 0 THEN '/files/a' || doc_id || '.pdf'
                            WHEN doc_id % 6 = 1 THEN '/files/public/r' || doc_id || '.pdf'
                            WHEN doc_id % 6 = 2 THEN '/cgi-bin/q' || doc_id
                            WHEN doc_id % 6 = 3 THEN '/page'
                            WHEN doc_id % 6 = 4 THEN '/page' || doc_id
                            ELSE '/open/' || doc_id END AS path
                FROM documents
            )
            SELECT doc_id, host,
                   'https://' || host || path AS canonical_url,
                   CASE
                     -- w0: Disallow /files/*.pdf (12), /cgi* (5);
                     --     Allow /files/public/*.pdf (19)
                     WHEN host = 'w0.example' THEN
                       greatest(
                         CASE WHEN regexp_matches(path, '^/files/.*\\.pdf') THEN 12 ELSE -1 END,
                         CASE WHEN regexp_matches(path, '^/cgi') THEN 5 ELSE -1 END)
                       >
                       CASE WHEN regexp_matches(path, '^/files/public/.*\\.pdf') THEN 19 ELSE -1 END
                     -- w1: Disallow /page$ (6), * (1); Allow /open (5)
                     WHEN host = 'w1.example' THEN
                       greatest(
                         CASE WHEN regexp_matches(path, '^/page$') THEN 6 ELSE -1 END,
                         1)
                       >
                       CASE WHEN starts_with(path, '/open') THEN 5 ELSE -1 END
                     ELSE FALSE  -- w2: no rules row
                   END AS robots_blocked
            FROM cand
            ORDER BY doc_id
        """,
        "kb_aggregate": """
            SELECT event_type,
                   round(sum(value), 2) AS total_score,
                   count(*)::BIGINT AS count,
                   round(avg(value), 3) AS avg_score
            FROM events GROUP BY event_type
        """,
        "link_filter": """
            WITH urls AS (
                SELECT doc_id,
                       'https://' || source || '.example.org/' ||
                       CASE WHEN doc_id % 7 = 0 THEN 'login'
                            WHEN doc_id % 7 = 1 THEN 'member/area'
                            WHEN doc_id % 7 = 2 THEN 'files/r' || doc_id || '.pdf'
                            ELSE 'page/' || doc_id END AS url
                FROM documents
            )
            SELECT doc_id, url FROM urls
            WHERE NOT regexp_matches(url, '/login|/member|/join|/policy|/recruit|/sitemap|/auth|/cart|/order')
              AND NOT regexp_matches(url, '\\.(pdf|hwp|zip|rar|exe|dmg|jpg|png|gif|mp4|mp3|doc|docx|xls|xlsx|ppt|pptx)$')
        """,
        "ledger_changed": """
            SELECT doc_id, sha256(text) AS new_hash
            FROM documents
            WHERE (CASE WHEN doc_id % 2 = 0 THEN sha256(text) ELSE sha256('stale') END)
                  <> sha256(text)
        """,
        "seen_antijoin": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "dedup_exact": """
            SELECT sha256(text) AS content_hash,
                   min(doc_id)::BIGINT AS representative,
                   count(*)::BIGINT AS n_dups
            FROM documents GROUP BY sha256(text)
        """,
        "packet_truncate": """
            SELECT doc_id,
                   CASE WHEN length(text) > 500 THEN 503 ELSE length(text) END::INT AS trunc_len,
                   substring(text, 1, 40) AS head40
            FROM documents
        """,
        "site_identifier": """
            WITH hosts AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 3 = 0 THEN source || '.co.kr'
                            ELSE source || '.portal.example.org' END AS host
                FROM documents
            )
            SELECT doc_id,
                   replace(
                     CASE WHEN len(str_split(host, '.')) > 2
                               AND str_split(host, '.')[2] NOT IN ('co','go','or')
                          THEN str_split(host, '.')[2] || '_' || str_split(host, '.')[1]
                          ELSE str_split(host, '.')[1] END,
                     '-', '_') AS site_id
            FROM hosts
        """,
        "token_stats": """
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT AS n_tokens,
                   length(text)::BIGINT AS n_chars
            FROM documents
        """,
        "lang_quality": """
            SELECT doc_id,
                   CASE WHEN (length(regexp_replace(text, '[^가-힣]', '', 'g'))
                              + length(regexp_replace(text, '[^A-Za-z]', '', 'g'))) = 0
                        THEN 'unknown'
                        WHEN length(regexp_replace(text, '[^가-힣]', '', 'g'))::DOUBLE /
                             (length(regexp_replace(text, '[^가-힣]', '', 'g'))
                              + length(regexp_replace(text, '[^A-Za-z]', '', 'g'))) >= 0.3
                        THEN 'ko' ELSE 'en' END AS lang_pred,
                   CASE WHEN length(text) > 1000 THEN 0.4
                        WHEN length(text) > 500 THEN 0.3
                        WHEN length(text) > 100 THEN 0.2
                        ELSE 0.0 END AS quality
            FROM documents
        """,
        "similarity_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(
                     list_dot_product(embedding::DOUBLE[], (SELECT qv FROM q)) /
                     (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                      sqrt(list_dot_product((SELECT qv FROM q), (SELECT qv FROM q)))),
                     4) AS cosine
            FROM embeddings
            ORDER BY cosine DESC, vec_id ASC
            LIMIT 10
        """,
        "embedding_neardup": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.v, b.v) /
                         (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                         4) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.v, b.v) /
                        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                        4) >= 0.4
        """,
        # Same brute-force oracle as embedding_neardup: the LSH path's
        # banding (32 bands × 2 bits) has per-pair miss probability
        # ≤ 8.7e−8 at the 0.4 threshold (see the query docstring), and
        # exact cosine is recomputed on candidates — so the approximate
        # pipeline must equal the brute-force set on this corpus.
        "embedding_neardup_lsh": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.v, b.v) /
                         (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                         4) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.v, b.v) /
                        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                        4) >= 0.4
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour,
                   count(*)::BIGINT AS n,
                   round(sum(value), 2) AS total_value
            FROM events GROUP BY date_trunc('hour', ts)
        """,
        "json_props": """
            SELECT event_id, json_extract(props, '$.k')::BIGINT AS k_val
            FROM events
            WHERE json_extract(props, '$.k')::BIGINT > 50
        """,
        "broadcast_join_enrich": """
            SELECT n_name, count(*)::BIGINT AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "salted_topk_skew": """
            SELECT event_type, round(sum(value), 2) AS total_value,
                   count(*)::BIGINT AS n
            FROM events GROUP BY event_type
        """,
    }


if __name__ == "__main__":
    from crawler_spark.session import build_session

    spark = build_session(app_name="entry_smoke", master="local[4]", shuffle_partitions=8)
    df = entry(spark)
    df.show(5)
    print("rows:", df.count())
    spark.stop()
