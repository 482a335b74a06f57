"""Corpus-curation operators for LLM training-data pipelines — Gopher-style
repetition/quality stats, PII redaction, and benchmark decontamination.

These extend the reference's single-document quality gate
(reference/src/crawler/high_performance_extractor.py:146-166 scores one
page at a time) to the corpus-level curation passes a 100 TB training-data
pipeline needs. Everything is built from JVM Column expressions — no
Python UDFs, no gram-keyed shuffles, and the only broadcasts are the
(small by construction) benchmark shingle set in :func:`decontaminate`
and the ``n_parts``-row bucket-offset frame in
:func:`token_budget_pack` (whose driver collect is bounded by
``n_parts``, the same contract as ``frontier.assign_seq``).

Scale notes
-----------
- :func:`gopher_stats` computes per-document repetition fractions
  entirely ROW-LOCALLY — ``array_sort`` + one linear ``aggregate`` pass
  per gram array, O(w log w) per document — so the whole operator is a
  shuffle-free map over the corpus scan (plan-asserted: zero Exchange
  nodes). The naive row-local formulation (a higher-order
  ``filter``-count per distinct gram) is O(distinct_grams x n_grams)
  and was rejected; sorting first makes both the max-run count (top
  2-gram frequency) and the distinct count single passes. An
  explode + gram-keyed partial-agg plan (the previous implementation)
  produces the identical output but shuffles every gram of every
  document — measured 2.5x (8 cores) to 5x (2 cores) slower on a
  200k-doc corpus at identical output hashes. Row-local cost is bounded
  by document length; web corpora cap documents at a few MB (and this
  engine's packets are E16-truncated), so no single row can become the
  straggler that gram-spreading existed to protect against.
- :func:`decontaminate` broadcast-joins against the benchmark shingle
  set. Benchmark suites are small (10^6-10^7 shingles even for a large
  eval battery), so the corpus side never shuffles — the scan stays
  embarrassingly parallel at 10^10 documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# thresholds adapted from Gopher (Rae et al. 2021, arXiv:2112.11446,
# Table A1) to this engine's word-level definitions
GOPHER_MIN_WORDS = 40
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 2.0
GOPHER_MAX_MEAN_WORD_LEN = 12.0
GOPHER_MAX_TOP2GRAM_FRAC = 0.20
GOPHER_MAX_DUP3GRAM_FRAC = 0.30

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?\d[\d -]{7,}\d"
PII_IP_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"


def words_col(text: Column) -> Column:
    """Whitespace word array via ``\\S+`` extraction — matches Python's
    ``str.split()`` exactly: NULL and whitespace-only text (including
    tabs/newlines, which ``trim`` does NOT strip) yield an EMPTY array,
    never phantom ``''`` words."""
    return F.regexp_extract_all(
        F.coalesce(text, F.lit("")), F.lit(r"\S+"), F.lit(0)
    )


def _grams_expr(n: int, words: str = "w") -> str:
    """SQL expr: overlapping word n-grams of the ``words`` array column.

    Guarded so short arrays yield array() — never a descending
    ``sequence(1, 0)`` (Spark's sequence REVERSES when start > stop).
    """
    return (
        f"CASE WHEN size({words}) >= {n} THEN "
        f"transform(sequence(1, size({words}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({words}, i, {n}))) "
        f"ELSE array() END"
    )


def shingles_expr(k: int = 8, words: str = "w") -> str:
    """SQL expr: word k-gram shingles; docs shorter than k words collapse
    to a single whole-document shingle (so short docs still participate
    in contamination checks)."""
    return (
        f"CASE WHEN size({words}) >= {k} THEN "
        f"transform(sequence(1, size({words}) - {k - 1}), "
        f"i -> concat_ws(' ', slice({words}, i, {k}))) "
        f"WHEN size({words}) > 0 THEN array(concat_ws(' ', {words})) "
        f"ELSE array() END"
    )


def gopher_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Gopher-style repetition/quality stats + pass flag.

    Output columns: id, n_words, mean_word_len, frac_top2gram (share of
    2-gram occurrences taken by the most frequent 2-gram), frac_dup3gram
    (share of 3-gram occurrences that are repeats), gopher_pass (int
    0/1, thresholds above, evaluated on the ROUNDED fractions so an
    independent oracle computing the same rounding agrees exactly).

    ONE scan of the corpus (the expensive resource at 100 TB) and ZERO
    shuffles: every statistic is row-local. The top-2-gram count is the
    longest run of the SORTED 2-gram array (one linear ``aggregate``
    pass); distinct 3-grams is ``array_distinct``; total gram counts
    need no gram array at all (``tot_k = max(n_words - k + 1, 0)``).
    Each gram array is materialized exactly once.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    base = df.select(
        F.col(id_col), words_col(F.col(text_col)).alias("w"), t.alias("t")
    )
    n = F.size("w")
    # longest run of the sorted gram array == max per-gram count; the
    # initial prev=NULL never null-safe-equals a gram, so the first
    # element correctly starts a run of 1
    maxrun2 = (
        f"aggregate(array_sort({_grams_expr(2)}), "
        "named_struct('p', cast(null as string), "
        "'r', cast(0 as bigint), 'b', cast(0 as bigint)), "
        "(s, x) -> named_struct('p', x, "
        "'r', IF(s.p <=> x, s.r + 1L, 1L), "
        "'b', greatest(s.b, IF(s.p <=> x, s.r + 1L, 1L))), "
        "s -> s.b)"
    )
    agg = base.select(
        id_col,
        n.cast("long").alias("n_words"),
        F.round(
            F.when(
                n > 0, F.length(F.regexp_replace("t", r"\s+", "")) / n
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("mean_word_len"),
        F.expr(maxrun2).alias("top2"),
        F.greatest(n - 1, F.lit(0)).cast("long").alias("tot2"),
        F.greatest(n - 2, F.lit(0)).cast("long").alias("tot3"),
        F.expr(f"cast(size(array_distinct({_grams_expr(3)})) as bigint)").alias(
            "dist3"
        ),
    )
    # explicit tot>0 guards: tot2/tot3 are plain zeros for short docs
    # (not NULLs), and ANSI mode rejects a 0 divisor outright
    frac2 = F.round(
        F.when(
            F.col("tot2") > 0, F.col("top2") / F.col("tot2")
        ).otherwise(F.lit(0.0)),
        6,
    ).alias("frac_top2gram")
    frac3 = F.round(
        F.when(
            F.col("tot3") > 0,
            (F.col("tot3") - F.col("dist3")) / F.col("tot3"),
        ).otherwise(F.lit(0.0)),
        6,
    ).alias("frac_dup3gram")
    out = agg.select(id_col, "n_words", "mean_word_len", frac2, frac3)
    gpass = (
        (F.col("n_words") >= GOPHER_MIN_WORDS)
        & (F.col("n_words") <= GOPHER_MAX_WORDS)
        & (F.col("mean_word_len") >= GOPHER_MIN_MEAN_WORD_LEN)
        & (F.col("mean_word_len") <= GOPHER_MAX_MEAN_WORD_LEN)
        & (F.col("frac_top2gram") <= GOPHER_MAX_TOP2GRAM_FRAC)
        & (F.col("frac_dup3gram") <= GOPHER_MAX_DUP3GRAM_FRAC)
    )
    return out.withColumn("gopher_pass", gpass.cast("int"))


def pii_redact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Count and redact emails / phone numbers / IPv4 addresses.

    Counts come from the ORIGINAL text; redaction is a fixed-order
    chain (email → phone → IP) so overlapping patterns resolve
    deterministically. The regexes avoid lookaround so Java regex
    (Spark) and RE2 (DuckDB oracle) agree byte-for-byte. Pure Column
    expressions — zero shuffles, zero Python. NULL text propagates to
    NULL counts/redaction (standard SQL semantics, identical in both
    engines); callers wanting zeros should coalesce upstream.
    """
    t = F.col(text_col)

    def count(pat: str) -> Column:
        return F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0))).cast(
            "long"
        )

    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE,
            "<PHONE>",
        ),
        PII_IP_RE,
        "<IP>",
    )
    return df.select(
        F.col(id_col),
        count(PII_EMAIL_RE).alias("n_emails"),
        count(PII_PHONE_RE).alias("n_phones"),
        count(PII_IP_RE).alias("n_ips"),
        redacted.alias("redacted"),
    )


def curate_packets(
    packets: DataFrame,
    text_col: str = "extracted_text",
    id_col: str = "packet_id",
    redact: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Post-cascade curation over accepted packets: Gopher repetition
    gate, then PII redaction of the surviving packet text.

    Returns ``(kept, failed)`` — both with the packets schema; ``kept``
    has ``text_col`` replaced by its redacted form when ``redact``.
    This is the storage-side guard a training pipeline wants BEFORE
    packets land in a sink: repetition spam out, PII never persisted.
    Joins are keyed on the packet id — per-batch packet volumes are the
    cascade's accepted subset, far below corpus scale.
    """
    g = gopher_stats(packets, text_col=text_col, id_col=id_col).select(
        id_col, "gopher_pass"
    )
    joined = packets.join(g, id_col)  # inner: gopher emits every input row
    failed = joined.filter(F.col("gopher_pass") == 0).drop("gopher_pass")
    kept = joined.filter(F.col("gopher_pass") == 1).drop("gopher_pass")
    if redact:
        r = pii_redact(kept, text_col=text_col, id_col=id_col).select(
            id_col, "redacted"
        )
        kept = (
            kept.join(r, id_col)
            .withColumn(text_col, F.col("redacted"))
            .drop("redacted")
        )
    return kept, failed


def curate_and_route(
    packets: DataFrame, rejected: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The storage-side curation stage of the wave loop and the streaming
    worker: :func:`curate_packets` over the cascade's accepted packets,
    with the repetition failures routed into the cascade's rejected rows
    (reason ``curation_repetition``). Returns ``(packets, rejected)``."""
    kept, failed = curate_packets(packets)
    return kept, rejected.unionByName(
        failed.select(
            "site_id",
            F.col("content_url").alias("canonical_url"),
            F.xxhash64("content_url").alias("url_hash"),
            F.lit("curation_repetition").alias("reason"),
        )
    )


def decontaminate(
    df: DataFrame,
    bench_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many of its
    distinct word ``k``-gram shingles appear in the benchmark set.

    Output: id, n_shingles (distinct shingles in the doc), n_contaminated
    (of those, how many occur anywhere in ``bench_df``), contaminated
    (int 0/1). The benchmark shingle set is broadcast (small by
    construction), so the corpus side is a scan + one (id)-keyed
    aggregation — no corpus-sized shuffle on the shingle key.
    Documents with empty text produce no output row (no shingles).
    """

    def doc_shingles(frame: DataFrame) -> DataFrame:
        return frame.select(
            F.col(id_col), words_col(F.col(text_col)).alias("w")
        ).select(
            id_col,
            F.explode(
                F.array_distinct(F.expr(shingles_expr(k)))
            ).alias("shingle"),
        )

    bench = (
        doc_shingles(bench_df)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = doc_shingles(df).join(F.broadcast(bench), "shingle", "left")
    agg = joined.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
        .cast("long")
        .alias("n_contaminated"),
    )
    return agg.withColumn(
        "contaminated", (F.col("n_contaminated") > 0).cast("int")
    )


def _rate_threshold(rate: float) -> str:
    """Hex threshold for an 8-hex-digit uniform key: keep iff key < thr.

    ``rate >= 1`` returns ``"g"`` — every hex key sorts below it (hex
    digits stop at ``f``), so the comparison stays a plain string
    compare on both engines with no length edge case."""
    if rate >= 1.0:
        return "g"
    return format(max(0, int(rate * 16**8)), "08x")


def deterministic_sample(
    df: DataFrame,
    rates: dict | float,
    stratum_col: str = "lang",
    text_col: str = "text",
    salt: str = "",
) -> DataFrame:
    """Content-keyed deterministic (stratified) sampling: keep a row iff
    the first 8 hex chars of ``sha256(salt || text)`` sort below its
    stratum's rate threshold.

    Training pipelines re-balance corpus mixes (down-sample the dominant
    language, up-weight rare ones) and must do it REPRODUCIBLY:
    ``df.sample`` draws per-partition from a seeded RNG, so its output
    changes with partitioning, task retries and cluster size — rerunning
    the pipeline on more executors silently selects different documents.
    Keying on a content hash makes the decision a pure function of the
    row: stable across reruns, repartitioning, AQE re-plans and engine
    versions, exactly oracle-checkable, and consistent for duplicate
    texts (a doc's exact dups are all in or all out, so sampling
    composes sanely with downstream dedup). Different ``salt`` values
    give independent draws (held-out splits, ablations).

    ``rates``: a float (uniform rate) or ``{stratum: rate}`` with
    optional ``"*"`` default (no ``"*"`` → unlisted strata are dropped).
    Output: the surviving rows plus a ``sample_key`` audit column (the
    8-hex sampling key, so a reviewer can re-verify any decision).
    Scale: a pure JVM Column predicate on the scan — no shuffle, no RNG
    state, pushed past column pruning; the sha256 costs one digest of
    the text per row, amortized against the scan itself.
    """
    key = F.substring(
        F.sha2(
            F.concat(F.lit(salt), F.coalesce(F.col(text_col), F.lit(""))), 256
        ),
        1,
        8,
    )
    if isinstance(rates, dict):
        thr = F.lit(_rate_threshold(float(rates.get("*", 0.0))))
        for k in sorted(k for k in rates if k != "*"):
            thr = F.when(
                F.col(stratum_col) == k, F.lit(_rate_threshold(float(rates[k])))
            ).otherwise(thr)
    else:
        thr = F.lit(_rate_threshold(float(rates)))
    return df.withColumn("sample_key", key).filter(
        F.col("sample_key") < thr
    )


def token_budget_pack(
    df: DataFrame,
    budget: int,
    score_col: str = "score",
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    n_parts: int = 32,
) -> DataFrame:
    """Select the highest-quality documents whose cumulative token count
    fits a training budget: keep rows in (``score_col`` DESC, ``id_col``
    ASC) order while the running INCLUSIVE sum of ``token_col`` stays
    ≤ ``budget`` (the standard "pack the best B tokens" curation step).
    ``score_col`` must be non-null; ties are broken by id, so the
    selection is a deterministic total order, exactly oracle-checkable.

    Output: the surviving rows plus ``cum_tokens`` (the running total
    through each row, for audit).

    Scale — the naive formulation is a cumulative sum over ONE global
    window (empty partitionBy → every row through a single reducer,
    dead at corpus scale). This runs the same two-phase shape as
    ``frontier.assign_seq(distributed=True)``:

    1. deterministic order-preserving buckets — each row's bucket is
       computed from the SCORE VALUE RANGE (no sampling, so equal
       scores always share a bucket and re-runs bucket identically),
       highest scores in bucket 0;
    2. per-bucket token totals (one map-side-combined agg) collect to
       the driver — ``n_parts`` rows, bounded — and turn into exclusive
       prefix offsets; buckets whose offset already exceeds the budget
       are dropped wholesale before any sort;
    3. a per-bucket running sum (Window partitioned BY BUCKET — 32
       parallel local sorts, never one global one) plus the bucket's
       offset gives the exact global cumulative sum.

    A corpus whose scores are all equal degenerates to one bucket (the
    order is then pure id); pass a finer-grained score if that is a
    real workload.
    """
    lo, hi = "_tbp_lo", "_tbp_hi"
    bounds = F.broadcast(
        df.agg(
            F.min(score_col).cast("double").alias(lo),
            F.max(score_col).cast("double").alias(hi),
        )
    )
    span = F.col(hi) - F.col(lo)
    ranged = (
        df.crossJoin(bounds)
        .withColumn(
            "_pid",
            F.when(span <= 0, F.lit(0))
            .otherwise(
                F.least(
                    F.lit(n_parts - 1),
                    F.floor(
                        (F.col(hi) - F.col(score_col).cast("double"))
                        * n_parts
                        / span
                    ),
                )
            )
            .cast("int"),
        )
        .drop(lo, hi)
    )
    # The bucket id is a pure function of the score, so recomputing it
    # on the second pass buckets identically — no persist needed (and at
    # corpus scale, re-scanning beats pinning the whole input in
    # memory); callers iterating on budgets can .persist() upstream.
    totals = {
        r["_pid"]: r["_tok"]
        for r in ranged.groupBy("_pid")
        .agg(F.sum(token_col).alias("_tok"))
        .collect()
    }
    offsets, running = {}, 0
    for pid in sorted(totals):
        offsets[pid] = running
        running += totals[pid] or 0
    spark = df.sparkSession
    off_df = F.broadcast(
        spark.createDataFrame(
            [(p, o) for p, o in offsets.items() if o <= budget],
            "_pid int, _off long",
        )
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        # inner join drops whole buckets already past the budget
        ranged.join(off_df, "_pid")
        .withColumn(
            "cum_tokens",
            (F.sum(token_col).over(w) + F.col("_off")).cast("long"),
        )
        .filter(F.col("cum_tokens") <= budget)
        .drop("_pid", "_off")
    )


def host_cap(
    df: DataFrame,
    n: int,
    host_col: str = "host",
    score_col: str = "score",
    id_col: str = "doc_id",
) -> DataFrame:
    """Host-diversity cap: keep at most ``n`` documents per host,
    best score first (ties by id).

    Web corpora are host-skewed — a handful of mega-domains (forums,
    wikis, link farms) can contribute a double-digit share of raw pages
    — and training mixes cap per-domain contributions so one site
    cannot dominate. Deterministic total order per host, so the kept
    set is exact and oracle-checkable.

    Scale: reuses :func:`crawler_spark.operators.frontier.topk_per_group`
    (the wave-batch selector) — a lossless local prune keyed by
    (input-partition, host) keeps each partition's top ``n`` first, so
    the global per-host rank sorts at most ``n_partitions × n`` rows per
    host instead of funneling a mega-host's 10^8 documents through one
    reducer. Output rows carry ``host_rank`` (1-based, for audit).
    """
    from .frontier import topk_per_group

    capped = topk_per_group(
        df.withColumn("_cap", F.lit(n)),
        [host_col],
        [F.desc(score_col), F.asc(id_col)],
        "_cap",
    )
    return (
        capped.filter(F.col("_rn") <= n)
        .withColumnRenamed("_rn", "host_rank")
        .drop("_cap")
    )
