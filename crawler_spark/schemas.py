"""All table schemas, declared up-front (StructType, never inferred).

The reference keeps every schema implicit in dict construction
(SURVEY §1); the engine fixes them here. The canonical input table is the
BASELINE.json ``input_hint`` shape:

    pages(url string, warc_ts timestamp, html binary, text string, lang string)
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Common-Crawl-style simulated web (input_hint authoritative shape).
PAGES = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),  # oracle expected extraction
        StructField("lang", StringType()),
    ]
)

# Seed/config list (reference shape: src/config.py:46-53).
SEEDS = StructType(
    [
        StructField("site_id", StringType()),
        StructField("site_name", StringType()),
        StructField("base_url", StringType()),
        StructField("instruction", StringType()),
        StructField("max_pages", IntegerType()),
        StructField("crawl_delay", DoubleType()),
    ]
)

# Per-host politeness rules (north-rule addition; reference has none).
ROBOTS = StructType(
    [
        StructField("host", StringType()),
        StructField("disallow", ArrayType(StringType())),
        StructField("allow", ArrayType(StringType())),
        StructField("crawl_delay", DoubleType()),
    ]
)

# Distributed URL frontier (replaces the reference's in-memory deque,
# src/agent/fast_crawler_agent.py:53).
FRONTIER = StructType(
    [
        StructField("url", StringType()),
        StructField("canonical_url", StringType()),
        StructField("url_hash", LongType()),
        StructField("host", StringType()),
        StructField("site_id", StringType()),
        StructField("depth", IntegerType()),
        StructField("score", DoubleType()),
        StructField("discovered_wave", IntegerType()),
        StructField("parent_seq", LongType()),
        StructField("link_idx", IntegerType()),
        StructField("state", StringType()),  # pending | fetched | failed | ...
        StructField("seq", LongType()),      # deterministic insertion order
        StructField("processed_wave", IntegerType()),  # wave that consumed it
    ]
)

# Exact URL-seen set (replaces in-memory set, fast_crawler_agent.py:54).
SEEN = StructType(
    [
        StructField("site_id", StringType()),
        StructField("url_hash", LongType()),
        StructField("canonical_url", StringType()),
        StructField("discovered_wave", IntegerType()),
    ]
)

# Per-site crawl progress (drives the max_pages stop condition, Q4).
# max_seq carries the per-site frontier seq high-water mark so seq
# assignment never needs a full-frontier aggregate per wave; n_pending
# is the live pending-row count (discovered − consumed) so the per-wave
# done/skip-budget checks never need a full pending scan+count job.
SITE_STATS = StructType(
    [
        StructField("site_id", StringType()),
        StructField("scanned", LongType()),
        StructField("max_seq", LongType()),
        StructField("n_pending", LongType()),
    ]
)

# Per-bucket seen-filter blobs (one row per hash bucket), shared by the
# Bloom and cuckoo kernels through the operators in operators/seen.py.
SEEN_FILTERS = StructType(
    [
        StructField("bucket", IntegerType()),
        StructField("n_items", LongType()),
        StructField("m_bits", LongType()),
        StructField("k", IntegerType()),
        StructField("filter_blob", BinaryType()),
    ]
)

LINK = StructType(
    [StructField("url", StringType()), StructField("anchor", StringType())]
)

# Hybrid-extractor link shape: adds the 100-char parent-text context
# snippet (reference hybrid_extractor.py:129-171).
LINK_CTX = StructType(
    [
        StructField("url", StringType()),
        StructField("anchor", StringType()),
        StructField("context", StringType()),
    ]
)

# Extraction output (reference ExtractionResult shape,
# high_performance_extractor.py:28-36).
EXTRACTED = StructType(
    [
        StructField("title", StringType()),
        StructField("text", StringType()),
        StructField("links", ArrayType(LINK)),
        StructField("quality_score", DoubleType()),
    ]
)

# Crawled-page store (reference: one JSON per page; here a table).
CRAWLED = StructType(
    [
        StructField("wave", IntegerType()),
        StructField("url", StringType()),
        StructField("canonical_url", StringType()),
        StructField("url_hash", LongType()),
        StructField("host", StringType()),
        StructField("site_id", StringType()),
        StructField("depth", IntegerType()),
        StructField("title", StringType()),
        StructField("text", StringType()),
        StructField("quality_score", DoubleType()),
        StructField("content_hash", StringType()),
    ]
)

# Processed ledger (reference: knowledge_base/<site>_ledger.json).
LEDGER = StructType(
    [
        StructField("url_hash", LongType()),
        StructField("url", StringType()),
        StructField("content_hash", StringType()),
    ]
)

# Ledger stored as a merge-on-read log: append-only versions keyed by
# wave; reads resolve latest-wave-per-url_hash (Iceberg MOR semantics).
LEDGER_LOG = StructType(
    LEDGER.fields + [StructField("wave", IntegerType())]
)

# Knowledge base (reference: knowledge_base/<site>_kb.json shape).
KB = StructType(
    [
        StructField("site_id", StringType()),
        StructField("pattern", StringType()),
        StructField("total_score", DoubleType()),
        StructField("count", LongType()),
        StructField("avg_score", DoubleType()),
        StructField("failure_count", LongType()),
    ]
)

# Final accepted packets (reference: src/packet/data_packet.py:8-33,
# uuid4/utcnow replaced by deterministic data-derived values).
PACKETS = StructType(
    [
        StructField("packet_id", StringType()),
        StructField("site_id", StringType()),
        StructField("site_name", StringType()),
        StructField("base_url", StringType()),
        StructField("instruction", StringType()),
        StructField("content_url", StringType()),
        StructField("title", StringType()),
        StructField("extracted_text", StringType()),  # truncated to 500+'...'
        StructField("relevance_score", DoubleType()),
        StructField("language", StringType()),
        StructField("summary", StringType()),
        StructField("keywords", ArrayType(StringType())),
        StructField("wave", IntegerType()),
    ]
)

# Per-wave, per-partition lineage metrics (north-rule requirement).
METRICS = StructType(
    [
        StructField("wave", IntegerType()),
        StructField("partition_id", IntegerType()),
        StructField("stage", StringType()),
        StructField("rows", LongType()),
    ]
)
