"""Deduplication operators for large-scale training-data pipelines.

Five families, all Spark-first:

* **exact** — hash-groupBy on ``sha2(text, 256)`` (pure JVM, one shuffle;
  at 100 TB this is the cheapest pass and runs first).
* **n-gram Jaccard** — exact near-dup pairs via an inverted index on
  hashed word n-grams: explode → self-join on ngram hash → per-pair
  intersection counts → Jaccard. Exact but quadratic in colliding docs;
  at scale it runs *after* MinHash-LSH has cut the candidate space.
* **MinHash + LSH** — per-doc signatures (k universal-hash permutations
  over crc-hashed shingles, vectorized numpy inside a pandas UDF),
  banded into (band_id, band_hash) buckets; only same-bucket pairs are
  candidates (the classic shingle→minhash→band→bucket-join pipeline).
* **SimHash** — 64-bit weighted-token fingerprints; near-dup candidates
  via pigeonhole banding into ``max_hamming + 1`` near-even blocks
  (recall 1 at the requested distance by construction), verified by
  Hamming distance.
* **embedding cosine** — see :mod:`crawler_spark.operators.similarity`.

Determinism: shingle/token hashing uses zlib.crc32 mixed to 64 bits —
stable across Python workers (never the builtin ``hash``, which is
PYTHONHASHSEED-dependent).
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

_MERSENNE = (1 << 61) - 1


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer: widen 32-bit crc to well-mixed 64-bit."""
    z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _shingle_hashes(text: str, n: int) -> np.ndarray:
    """Distinct hashed word n-grams of one document (uint64)."""
    words = text.split()
    if len(words) < n:
        grams = [" ".join(words)] if words else []
    else:
        grams = [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]
    if not grams:
        return np.empty(0, dtype=np.uint64)
    crc = np.fromiter(
        (zlib.crc32(g.encode("utf-8")) for g in grams), dtype=np.uint64, count=len(grams)
    )
    return np.unique(_mix64(crc))


# --- exact dedup -------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Duplicate groups by content hash: (content_hash, representative
    (= min id), n_dups). Pure JVM; map-side partial agg then one shuffle."""
    return (
        df.select(F.sha2(F.col(text_col), 256).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("representative"),
            F.count("*").alias("n_dups"),
        )
    )


def drop_exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per distinct text."""
    w_min = exact_dedup_groups(df, text_col, id_col).select(
        F.col("representative").alias(id_col)
    )
    return df.join(w_min, id_col, "left_semi")


# --- n-gram Jaccard (exact verification path) --------------------------------

def shingles_udf(n: int = 3):
    @F.pandas_udf(ArrayType(LongType()))
    def fn(text: pd.Series) -> pd.Series:
        return text.map(
            lambda t: _shingle_hashes(t or "", n).astype(np.int64).tolist()
        )
    return fn


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact near-dup pairs (id_a < id_b, jaccard ≥ threshold).

    Inverted-index join: docs sharing ≥1 n-gram meet in the shuffle; the
    per-pair intersection count + per-doc set sizes give exact Jaccard.
    At 100 TB this runs on MinHash candidates only (see
    ``minhash_dedup_pairs``), never on the raw corpus.
    """
    sh = df.select(
        F.col(id_col).alias("id"), shingles_udf(n)(F.col(text_col)).alias("sh")
    ).withColumn("n_sh", F.size("sh"))
    sh = sh.filter(F.col("n_sh") > 0)
    inv = sh.select("id", "n_sh", F.explode("sh").alias("g"))
    a = inv.select(
        F.col("id").alias("id_a"), F.col("n_sh").alias("na"), "g"
    )
    b = inv.select(
        F.col("id").alias("id_b"), F.col("n_sh").alias("nb"), "g"
    )
    pairs = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count("*").alias("common"))
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return pairs


# --- MinHash + LSH ------------------------------------------------------------

def _perm_params(k: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=k, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, _MERSENNE, size=k, dtype=np.int64).astype(np.uint64)
    return a, b


def minhash_signature_udf(k: int = 128, n: int = 3, seed: int = 42):
    a, b = _perm_params(k, seed)

    @F.pandas_udf(ArrayType(LongType()))
    def fn(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            sh = _shingle_hashes(t or "", n)
            if len(sh) == 0:
                out.append(None)
                continue
            x = (sh % np.uint64(_MERSENNE)).astype(np.uint64)
            # (n_shingles, k): (a*x + b) mod p, then column-min
            vals = (x[:, None] * a[None, :] + b[None, :]) % np.uint64(_MERSENNE)
            out.append(vals.min(axis=0).astype(np.int64).tolist())
        return pd.Series(out)

    return fn


def lsh_candidate_pairs(
    df: DataFrame,
    k: int = 128,
    bands: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash signatures.

    rows-per-band r = k // bands; two docs collide iff some band of their
    signatures matches exactly — P(candidate) = 1-(1-j^r)^bands, the usual
    S-curve. Band hash = xxhash64 of the band slice (JVM-side over the
    signature array)."""
    r = k // bands
    sig = df.select(
        F.col(id_col).alias("id"),
        minhash_signature_udf(k, n, seed)(F.col(text_col)).alias("sig"),
    ).filter(F.col("sig").isNotNull())
    banded = sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.struct(
                    i.alias("band"),
                    F.xxhash64(
                        F.slice(F.col("sig"), i * r + 1, r).cast("array<string>").cast("string")
                    ).alias("bh"),
                ),
            )
        ).alias("e"),
    ).select("id", "e.band", "e.bh")
    left = banded.select(F.col("id").alias("id_a"), "band", "bh")
    right = banded.select(F.col("id").alias("id_b"), "band", "bh")
    return (
        left.join(right, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    k: int = 128,
    bands: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The scale path: LSH candidates → exact-Jaccard verification.

    Joins the candidate pairs back to the shingle sets and verifies, so
    the output has MinHash recall but exact precision."""
    cands = lsh_candidate_pairs(df, k, bands, n, text_col, id_col)
    sh = df.select(
        F.col(id_col).alias("id"), shingles_udf(n)(F.col(text_col)).alias("sh")
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "common", F.size(F.array_intersect("sh_a", "sh_b"))
        )
        .withColumn(
            "jaccard",
            F.col("common")
            / (F.size("sh_a") + F.size("sh_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# --- SimHash -------------------------------------------------------------------

def simhash_udf():
    @F.pandas_udf(LongType())
    def fn(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            if not t:
                out.append(0)
                continue
            words = t.split()
            crc = np.fromiter(
                (zlib.crc32(w.encode("utf-8")) for w in words),
                dtype=np.uint64,
                count=len(words),
            )
            h = _mix64(crc)  # (n_words,) uint64
            bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1).astype(
                np.int64
            )
            v = (2 * bits - 1).sum(axis=0)  # weighted vote per bit
            sim = np.uint64(0)
            for i in range(64):
                if v[i] > 0:
                    sim |= np.uint64(1) << np.uint64(i)
            out.append(int(sim.astype(np.int64)))
        return pd.Series(out, dtype="int64")

    return fn


def _pigeonhole_blocks(max_hamming: int) -> list[tuple[int, int]]:
    """(bit_offset, width) for ``max_hamming + 1`` near-even blocks of a
    64-bit word. Pigeonhole: a pair differing in ≤ max_hamming bits
    cannot differ in all max_hamming+1 blocks, so it agrees on ≥1 block
    — the banding is recall-complete for the requested distance."""
    n_blocks = max_hamming + 1
    widths = [64 // n_blocks + (1 if i < 64 % n_blocks else 0) for i in range(n_blocks)]
    blocks, off = [], 0
    for w in widths:
        blocks.append((off, w))
        off += w
    return blocks


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ALL near-dup pairs with Hamming(simhash) ≤ max_hamming (recall 1
    by the pigeonhole banding, precision 1 by the popcount filter).

    The block count is derived from the requested distance: pigeonhole
    needs ``max_hamming + 1`` blocks for any ≤max_hamming-bit difference
    to leave one block intact (e.g. ≤3 → 4×16-bit blocks, ≤12 → 13
    ~5-bit blocks). More blocks = narrower blocks = more candidate
    collisions — callers asking for large distances pay a wider
    candidate join; the guarantee holds either way. Popcount
    verification is JVM-side (bit_count)."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    s = df.select(F.col(id_col).alias("id"), simhash_udf()(F.col(text_col)).alias("sim"))
    blocks = s.select(
        "id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        (
                            F.shiftrightunsigned(F.col("sim"), off).bitwiseAND(
                                F.lit((1 << width) - 1)
                            )
                            if width < 64
                            # single 64-bit block (max_hamming=0): the
                            # mask 2^64-1 overflows a long literal and is
                            # a no-op anyway
                            else F.col("sim")
                        ).alias("bv"),
                    )
                    for i, (off, width) in enumerate(_pigeonhole_blocks(max_hamming))
                ]
            )
        ).alias("e"),
    ).select("id", "sim", "e.blk", "e.bv")
    l = blocks.select(F.col("id").alias("id_a"), F.col("sim").alias("sim_a"), "blk", "bv")
    rgt = blocks.select(F.col("id").alias("id_b"), F.col("sim").alias("sim_b"), "blk", "bv")
    return (
        l.join(rgt, ["blk", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        # popcount verify BEFORE the pair-dedup: the signatures ride the
        # candidate rows anyway (16 bytes), so verifying inside the join
        # stage costs nothing and the distinct() then shuffles only TRUE
        # pairs instead of every block collision (which a wide
        # max_hamming makes plentiful)
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


# --- substring-level dedup (suffix-array-style duplicated runs) ---------------

def positional_shingle_udf(n: int):
    """Hashed word ``n``-grams of a document IN POSITION ORDER (one hash
    per window start; duplicates kept — unlike :func:`shingles_udf`,
    whose set semantics fit Jaccard, this feeds positional span logic).
    Docs shorter than ``n`` words yield an empty array."""

    @F.pandas_udf(ArrayType(LongType()))
    def fn(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            words = (t or "").split()
            if len(words) < n:
                out.append([])
                continue
            grams = [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]
            crc = np.fromiter(
                (zlib.crc32(g.encode("utf-8")) for g in grams),
                dtype=np.uint64,
                count=len(grams),
            )
            out.append(_mix64(crc).astype(np.int64).tolist())
        return pd.Series(out)

    return fn


def substring_dedup_spans(
    df: DataFrame,
    min_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    scope: str = "cross_doc",
    min_count: int = 2,
) -> DataFrame:
    """Duplicated substring RUNS: per document, the maximal token spans
    covered by some ``min_tokens``-gram that also occurs elsewhere —
    the span-level dedup mode of Lee et al. 2022 (arXiv:2107.06499,
    "Deduplicating Training Data Makes Language Models Better"), which
    uses suffix arrays to find repeated byte runs ≥ a length cutoff.
    This is the distributed re-expression: a run of ``M ≥ min_tokens``
    tokens shared between two documents contains ``M − min_tokens + 1``
    shared ``min_tokens``-grams and is exactly recovered by marking
    duplicated grams and merging their overlapping or abutting windows
    (two runs back to back cover one contiguous range) — same
    output contract as the suffix-array scan, no suffix array needed.

    ``scope='cross_doc'``: a gram is duplicated iff it occurs in ≥ 2
    DISTINCT documents (detected as ``min(id) != max(id)`` — map-side
    combinable, no count-distinct). ``scope='corpus'``: ≥ ``min_count``
    occurrences anywhere, self-repetition included (the Lee et al.
    semantics).

    Output: one row per maximal span — (id, span_start, span_end
    [0-based token indices, inclusive], span_tokens). Docs with no
    duplicated run produce no rows. Downstream removal is a join +
    token-slice away; emitting spans (not rewritten text) is the mode
    real pipelines want, since removal policy (drop doc / cut span /
    keep first occurrence) is a corpus-policy decision.

    Scale (10^12 grams at 100 TB):

    * gram-frequency pass is ``groupBy(gram_hash)`` with min/max-id (or
      count) — map-side combinable, so mega-boilerplate grams collapse
      per map partition before the exchange; no hot reducer.
    * marking is a left-semi join of occurrences against duplicated
      grams on the 64-bit gram hash — the corpus-sized shuffle; skewed
      hot grams are AQE skew-join territory. Only (id, pos, hash)
      triples ride it, never text.
    * span merge is document-local: ``collect_list(pos)`` per doc is
      bounded by document length (web docs cap at a few MB), sorted and
      folded into intervals by one JVM higher-order ``aggregate`` —
      no Python, no cross-doc state.
    """
    if scope not in ("cross_doc", "corpus"):
        raise ValueError(f"scope must be 'cross_doc' or 'corpus', got {scope!r}")
    k = int(min_tokens)
    if k < 1:
        raise ValueError(f"min_tokens must be >= 1, got {min_tokens}")
    occ = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(positional_shingle_udf(k)(F.col(text_col))).alias("pos", "g"),
    )
    if scope == "cross_doc":
        dup = (
            occ.groupBy("g")
            .agg(F.min("id").alias("_mn"), F.max("id").alias("_mx"))
            .filter(F.col("_mn") != F.col("_mx"))
            .select("g")
        )
    else:
        dup = (
            occ.groupBy("g")
            .agg(F.count("*").alias("_c"))
            .filter(F.col("_c") >= min_count)
            .select("g")
        )
    marked = occ.join(dup, "g", "left_semi")
    pos_list = marked.groupBy("id").agg(
        F.array_sort(F.collect_list("pos")).alias("ps")
    )
    last = lambda acc: F.element_at(acc, -1)  # noqa: E731
    spans = F.aggregate(
        F.col("ps"),
        F.expr("cast(array() as array<struct<s:int, e:int>>)"),
        lambda acc, p: F.when(
            (F.size(acc) > 0) & (p <= last(acc)["e"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        last(acc)["s"].alias("s"),
                        F.greatest(
                            last(acc)["e"], (p + F.lit(k - 1)).cast("int")
                        ).alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        p.cast("int").alias("s"),
                        (p + F.lit(k - 1)).cast("int").alias("e"),
                    )
                ),
            )
        ),
    )
    return (
        pos_list.select(F.col("id").alias(id_col), F.explode(spans).alias("sp"))
        .select(
            id_col,
            F.col("sp.s").alias("span_start"),
            F.col("sp.e").alias("span_end"),
            (F.col("sp.e") - F.col("sp.s") + 1).cast("long").alias("span_tokens"),
        )
    )


def cut_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a removal policy to :func:`substring_dedup_spans` output:
    delete the given token spans from each document's text.

    ``spans``: (id, span_start, span_end) rows — the caller chooses the
    policy upstream (e.g. keep each duplicated run's first-discovered
    document and pass only the other occurrences here; or cut
    everything), because removal policy is a corpus decision, not an
    operator one. Documents without spans pass through untouched.

    Output: id, text (tokens outside every span re-joined with single
    spaces — token-level semantics, so original whitespace is
    normalized, same contract as the span indices themselves),
    n_tokens_removed.

    Scale shape: one id-keyed join (spans side is the — much smaller —
    duplicated-run set, groupBy-collapsed to one array per doc), then a
    row-local higher-order ``filter`` with the token index against the
    doc's own span array — O(tokens × spans_per_doc) per row, zero
    Python, no additional shuffle beyond the join."""
    sp = spans.groupBy(F.col(id_col)).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("_spans")
    )
    joined = df.join(sp, id_col, "left")
    words = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    words = F.filter(words, lambda w: w != "")  # empty text → empty array
    covered = lambda i: F.exists(  # noqa: E731
        F.col("_spans"), lambda s: (i >= s["s"]) & (i <= s["e"])
    )
    kept = F.when(
        F.col("_spans").isNull(), words
    ).otherwise(F.filter(words, lambda w, i: ~covered(i)))
    n_removed = F.size(words) - F.size(kept)
    return joined.select(
        F.col(id_col),
        F.array_join(kept, " ").alias(text_col),
        n_removed.cast("long").alias("n_tokens_removed"),
    )


# --- corpus-level duplicated-line removal (C4/RefinedWeb-style) ---------------

def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 15,
) -> DataFrame:
    """Remove lines duplicated ACROSS the corpus, keeping each line's
    first occurrence (the C4 / RefinedWeb line-dedup pass: cookie
    banners, copyright footers and navigation chrome recur across
    millions of pages, and dropping repeated lines strips that
    boilerplate without any per-site rules — the corpus-level
    generalization of the reference's per-page quality gate,
    reference/src/crawler/high_performance_extractor.py:146-166).

    A line is dedup-ELIGIBLE only when its trimmed form (ASCII
    whitespace — space/tab/CR/LF/FF — stripped from both ends, so CRLF
    and LF spellings of one boilerplate line compare equal) is at least
    ``min_len`` chars: short fragments ("", "-", list bullets) recur
    naturally and are never removed. Among identical eligible lines the
    occurrence with the smallest ``(id, line position)`` survives — a
    total order, so the output is deterministic and exactly
    oracle-checkable (no sampling, no hashing approximations).

    Output: one row per input document (docs whose every line was
    removed still appear, with empty text) — id, text (surviving lines
    re-joined by newline), n_lines (original line count), n_removed.

    Scale (the corpus is ~10^12 lines at 100 TB):

    * First-occurrence per distinct line is ``groupBy(line).min(
      struct(id, pos))`` — map-side combinable, so a boilerplate line
      occurring 10^8 times collapses to one row per map partition
      BEFORE the exchange; no hot reducer, no window-over-skewed-key.
      (A ``row_number`` window per line — the naive formulation — sorts
      every occurrence of the hottest line in one task.)
    * Occurrences join first-occurrences on the line text — the
      corpus-sized shuffle. Residual key skew on mega-boilerplate is
      AQE skew-join territory; keying by a hash would save nothing
      because the line text must ride the shuffle anyway for the
      rebuild, and joining on the text itself keeps the pass EXACT (no
      hash-collision false removals).
    * The rebuild ``groupBy(id)`` is corpus-sized but even (keyed by
      document, payload = that document's own lines).
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    # explicit ASCII-whitespace trim (space/tab/CR/LF/FF) — NOT F.trim,
    # which strips spaces only and would leave the trailing \r of a
    # CRLF document un-stripped, so the CRLF and LF variants of the
    # same boilerplate line would never deduplicate against each other.
    # The class is chosen to mean the same thing in Java regex (Spark)
    # and RE2 (the DuckDB oracle); \x0B is excluded because RE2's \s
    # and Java's \s disagree on it.
    ws = r"^[ \t\r\n\f]+|[ \t\r\n\f]+$"
    occ = (
        df.select(F.col(id_col), F.posexplode(F.split(t, "\n")).alias("pos", "line"))
        .withColumn("norm", F.regexp_replace(F.col("line"), ws, ""))
        .withColumn("eligible", F.length("norm") >= min_len)
    )
    firsts = (
        occ.filter("eligible")
        .groupBy("norm")
        .agg(F.min(F.struct(id_col, "pos")).alias("first"))
    )
    tagged = occ.join(firsts, "norm", "left").withColumn(
        "keep",
        ~F.col("eligible") | (F.struct(id_col, "pos") == F.col("first")),
    )
    return tagged.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("keep"), F.struct("pos", "line")))
                ),
                lambda s: s["line"],
            ),
        ).alias(text_col),
        F.count("*").cast("long").alias("n_lines"),
        F.sum((~F.col("keep")).cast("long")).alias("n_removed"),
    )
