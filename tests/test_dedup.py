"""Dedup operators on a controlled corpus with planted near-duplicates."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from crawler_spark.operators import dedup

WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu xi "
    "omicron pi rho sigma tau upsilon phi chi psi omega red green blue"
).split()


@pytest.fixture(scope="module")
def docs(spark):
    rng = random.Random(13)
    rows = []
    # 40 base docs of 60 words
    bases = []
    for i in range(40):
        words = [rng.choice(WORDS) for _ in range(60)]
        bases.append(words)
        rows.append((i, " ".join(words)))
    # exact dups of docs 0..4 (ids 100..104)
    for i in range(5):
        rows.append((100 + i, " ".join(bases[i])))
    # near dups of docs 10..14: mutate 3 of 60 words (ids 200..204)
    for i in range(5):
        w = list(bases[10 + i])
        for j in (5, 25, 45):
            w[j] = "mutant%d" % j
        rows.append((200 + i, " ".join(w)))
    # unrelated short doc
    rows.append((300, "tiny"))
    return spark.createDataFrame(rows, "doc_id long, text string").persist()


def test_exact_dedup(docs):
    groups = dedup.exact_dedup_groups(docs).filter(F.col("n_dups") > 1).collect()
    reps = {r["representative"]: r["n_dups"] for r in groups}
    assert reps == {i: 2 for i in range(5)}
    kept = dedup.drop_exact_duplicates(docs)
    assert kept.count() == docs.count() - 5
    assert kept.filter(F.col("doc_id") >= 100).filter(F.col("doc_id") < 200).count() == 0


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    # exact dups → jaccard 1.0
    for i in range(5):
        assert pairs[(i, 100 + i)] == 1.0
    # planted near dups present with jaccard in (0.5, 1)
    for i in range(5):
        key = (10 + i, 200 + i)
        assert key in pairs and 0.5 <= pairs[key] < 1.0, (key, pairs.get(key))
    # no spurious cross-pairs between independent random docs
    for (a, b), j in pairs.items():
        assert (b - a) in (90, 100) or j < 0.9, (a, b, j)


def test_minhash_lsh_finds_planted_pairs(docs):
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_dedup_pairs(docs, threshold=0.5, k=128, bands=32).collect()
    }
    expected = {(i, 100 + i) for i in range(5)} | {(10 + i, 200 + i) for i in range(5)}
    assert expected <= got
    # verification step guarantees precision: every pair is truly >= 0.5
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert got <= exact


def _brute_force_hamming_pairs(docs, max_hamming):
    """Exact expected pair set: collect the simhashes and compare all
    pairs driver-side (51 docs → trivial)."""
    sims = {
        r["id"]: r["sim"]
        for r in docs.select(
            F.col("doc_id").alias("id"), dedup.simhash_udf()(F.col("text")).alias("sim")
        ).collect()
    }
    ids = sorted(sims)
    out = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin((sims[a] ^ sims[b]) & ((1 << 64) - 1)).count("1")
            if h <= max_hamming:
                out[(a, b)] = h
    return out


@pytest.mark.parametrize("max_hamming", [0, 3, 10, 12])
def test_simhash_recall_complete(docs, max_hamming):
    """The banding derives its block count from max_hamming (pigeonhole:
    max_hamming+1 blocks), so the output must EQUAL the brute-force pair
    set at that distance — recall 1, not 'most pairs'."""
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_pairs(docs, max_hamming=max_hamming).collect()
    }
    assert got == _brute_force_hamming_pairs(docs, max_hamming)


def test_simhash_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_pairs(docs, max_hamming=10).collect()
    }
    for i in range(5):
        assert pairs.get((i, 100 + i)) == 0  # identical text → same simhash
    # with the distance-derived banding the planted 3-word mutations that
    # ARE within 10 bits must all be recalled (checked exactly above);
    # here just assert the planted family shows up at all
    near = [k for k in pairs if k[1] - k[0] == 190]
    assert len(near) >= 3


def test_simhash_rejects_bad_distance(docs):
    with pytest.raises(ValueError):
        dedup.simhash_pairs(docs, max_hamming=64)


# --- corpus-level line dedup --------------------------------------------------

ASCII_WS = " \t\r\n\f"  # the engine's documented trim class


def _line_dedup_oracle(rows, min_len=15):
    """Independent brute force: first (id, pos) occurrence per trimmed
    eligible line survives; short lines always survive."""
    occ = []
    for doc_id, text in rows:
        for pos, line in enumerate((text or "").split("\n")):
            occ.append((doc_id, pos, line, line.strip(ASCII_WS)))
    first = {}
    for doc_id, pos, line, norm in sorted(occ):
        if len(norm) >= min_len and norm not in first:
            first[norm] = (doc_id, pos)
    out = {}
    for doc_id, text in rows:
        kept, removed, lines = [], 0, (text or "").split("\n")
        for pos, line in enumerate(lines):
            norm = line.strip(ASCII_WS)
            if len(norm) >= min_len and first[norm] != (doc_id, pos):
                removed += 1
            else:
                kept.append(line)
        out[doc_id] = ("\n".join(kept), len(lines), removed)
    return out


def test_line_dedup_matches_brute_force(spark):
    boiler = "Copyright Example Corp. All rights reserved."
    rows = [
        (1, f"unique first line one\n{boiler}\nshort\nunique tail line one"),
        (2, f"{boiler}\nunique first line two\n{boiler}"),  # intra-doc dup too
        (3, "   " + boiler + "   \nshort"),  # trim-equal variant removed
        (4, ""),  # empty doc survives as a row
        (5, None),  # null text
        (6, "unique first line one"),  # cross-doc dup of doc 1's line
        (7, "short\nshort\n- menu -"),  # ineligible dups all survive
        (8, boiler + "\n" + boiler),  # doc left with no eligible lines
        (9, boiler + "\r\nafter a CRLF line"),  # \r-suffixed dup removed
        (10, "\t" + boiler + "\nunique tail line ten"),  # tab-prefixed dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_lines"], r["n_removed"])
        for r in dedup.line_dedup(df).collect()
    }
    exp = _line_dedup_oracle(rows)
    assert got == exp
    # the whitespace variant in doc 3 is REMOVED (trim-equal to doc 1's
    # boilerplate) and doc 8 collapses to empty text but keeps its row
    assert got[3][2] == 1 and got[8] == ("", 2, 2)
    # CRLF (\r-suffixed) and tab-prefixed spellings of the boilerplate
    # are trim-equal to doc 1's LF spelling and removed too
    assert got[9] == ("after a CRLF line", 2, 1)
    assert got[10][2] == 1


def test_line_dedup_first_occurrence_is_skew_safe_agg(spark):
    """The first-occurrence pass must be a partial-aggregable groupBy
    (HashAggregate pair), NOT a row_number window — a window sorts every
    occurrence of the hottest boilerplate line in one task, the exact
    single-reducer pattern that dies at 10^8 occurrences."""
    df = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("unique line for document number "),
            F.col("id"),
            F.lit("\nCopyright Example Corp. All rights reserved."),
        ).alias("text"),
    )
    out = dedup.line_dedup(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert out.filter(F.col("n_removed") > 0).count() == 49


def test_substring_dedup_planted_spans(spark):
    """Exact span contract on a hand-built corpus: two docs share a
    6-token run (>= min_tokens=4) at known offsets; a third doc shares
    nothing long enough; intra-doc repetition is invisible to
    scope='cross_doc' but found by scope='corpus'."""
    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    docs = [
        (0, "intro words here " + shared + " tail zero"),      # run at 3..8
        (1, shared + " completely different ending words"),    # run at 0..5
        (2, "no overlap with anything else at all honestly"),
        (3, "repeat cycle repeat cycle repeat cycle repeat cycle repeat"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in dedup.substring_dedup_spans(df, min_tokens=4).collect()
    }
    assert got == {(0, 3, 8, 6), (1, 0, 5, 6)}

    # corpus scope additionally flags doc 3's self-repetition: every
    # 4-gram window of the cycle text recurs, so one maximal span
    # covers the whole 9-token doc
    got_c = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.substring_dedup_spans(
            df, min_tokens=4, scope="corpus"
        ).collect()
    }
    assert (3, 0, 8) in got_c
    assert (0, 3, 8) in got_c and (1, 0, 5) in got_c

    # disjoint duplicated runs in ONE doc stay separate spans
    a = "one two three four five"
    b = "six seven eight nine ten"
    df2 = spark.createDataFrame(
        [
            (10, a + " XXGAP1 XXGAP2 XXGAP3 XXGAP4 " + b),
            (11, a + " other middle words entirely here " + b),
        ],
        "doc_id long, text string",
    )
    got2 = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.substring_dedup_spans(df2, min_tokens=5).collect()
    )
    assert got2 == [(10, 0, 4), (10, 9, 13), (11, 0, 4), (11, 10, 14)]


def test_substring_dedup_abutting_runs_merge(spark):
    """Two independent duplicated runs back to back in one doc (each
    shared with a different doc, no gram straddling the seam shared)
    cover one contiguous token range, so they are ONE maximal span."""
    a = "one two three four five"
    b = "six seven eight nine ten"
    df = spark.createDataFrame(
        [
            (20, a + " " + b),
            (21, a + " unrelated tail words here"),
            (22, "different lead words here " + b),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in dedup.substring_dedup_spans(df, min_tokens=5).collect()
    )
    assert got == [(20, 0, 9, 10), (21, 0, 4, 5), (22, 4, 8, 5)]


def test_substring_dedup_validation(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="scope"):
        dedup.substring_dedup_spans(df, scope="bogus")
    with pytest.raises(ValueError, match="min_tokens"):
        dedup.substring_dedup_spans(df, min_tokens=0)
    # short/empty docs produce no rows, no errors
    df3 = spark.createDataFrame(
        [(1, "tiny"), (2, None), (3, "")], "doc_id long, text string"
    )
    assert dedup.substring_dedup_spans(df3, min_tokens=4).count() == 0


def test_cut_spans_removes_duplicated_runs(spark):
    """cut_spans composes with substring_dedup_spans: cutting the second
    occurrence's spans removes exactly the shared tokens; untouched docs
    and no-span docs pass through with n_tokens_removed=0."""
    shared = "alpha beta gamma delta epsilon zeta"
    docs = [
        (0, "intro words here " + shared + " tail zero"),
        (1, shared + " completely different ending words"),
        (2, "no overlap with anything else at all honestly"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    spans = dedup.substring_dedup_spans(df, min_tokens=4)
    # cut-everything policy: both occurrences lose exactly the 6 shared
    # tokens; an example keep-first policy is exercised below
    out = {
        r["doc_id"]: (r["text"], r["n_tokens_removed"])
        for r in dedup.cut_spans(df, spans).collect()
    }
    for d in (0, 1):
        text, n = out[d]
        assert n == 6
        for w in shared.split():
            assert w not in text.split()
    assert out[0][0] == "intro words here tail zero"
    assert out[1][0] == "completely different ending words"
    assert out[2][1] == 0 and out[2][0] == docs[2][1]
    # keep-first policy: cut only the higher-id occurrence's spans
    kept_first = {
        r["doc_id"]: r["n_tokens_removed"]
        for r in dedup.cut_spans(
            df, spans.filter(F.col("doc_id") != 0)
        ).collect()
    }
    assert kept_first == {0: 0, 1: 6, 2: 0}
