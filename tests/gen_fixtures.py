"""Generate the DuckDB-oracle fixture parquets for the deterministic
pure-function queries (doc_fingerprint, gate_cascade, density_extract,
minhash_pairs, simhash_pairs, ann_lsh_topk, ann_ivf_topk,
multimodal_features).

Run from the repo root:  python tests/gen_fixtures.py

Every fixture in this file is computed by an INDEPENDENT
reimplementation — this module imports NOTHING from crawler_spark, so a
green hash_match validates the operator's semantics, not merely its
determinism:

* ``doc_fingerprint``: min crc32 over 8-word sliding windows.
* ``gate_cascade``: the reference's gate formulas (F10 low-quality
  ratio, L1 gatekeeper token overlap on the 1500-char snippet, L2
  analysis score/language on the 4000-char snippet — reference
  llm_processing_worker.py:37-56 + llm_client.py:38-97 behavior)
  transcribed here from the written spec, evaluated row by row.
* ``density_extract``: for the fixed synthesized page shape
  (``<div class='content'><p>{text}</p></div>`` + a Copyright footer)
  the density extractor must select the content div and emit the
  cleaned text — the expected length is the E4 final-clean line filter
  (≥10-char lines, noise-line and meta-line drops) applied to the raw
  document text directly, with no HTML machinery involved.
* ``minhash_pairs``: brute-force exact word-3-gram Jaccard over ALL
  doc pairs (500 docs at sf0.01 → 125k pairs, trivial driver-side);
  pairs with jaccard ≥ 0.5 are the expected output. The engine's
  MinHash-LSH parameters (k=64, bands=16) give recall 1.0 on this
  corpus (the 25 qualifying pairs sit at j≈0.9–1.0, where the banded
  collision probability is ≥ 1−3e−8), and the exact-Jaccard
  verification step makes precision 1 — so approximate candidate
  generation + exact verify must EQUAL the brute-force set here.

The oracle_sql() entries read these files by absolute path; the driver
contract runs at sf0.01, so fixtures are generated for that sf.
"""

from __future__ import annotations

import itertools
import os
import re
import zlib

import duckdb
import pandas as pd

SF = "0.01"
SF_DIR = f"/root/testdata/sf{SF}"
OUT_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def fingerprint_independent(text: str | None, window: int = 8) -> int:
    """Independent reimplementation: min crc32 over 8-word windows (one
    whole-text window when the document is shorter)."""
    words = (text or "").split()
    if not words:
        return 0
    if len(words) <= window:
        spans = [" ".join(words)]
    else:
        spans = [" ".join(words[i : i + window]) for i in range(len(words) - window + 1)]
    return min(zlib.crc32(s.encode("utf-8")) for s in spans)


# --- gate cascade: independent transcription of the gate formulas -----------

_DATE = re.compile(r"\d{4}-\d{2}-\d{2}")
_TOKEN = re.compile(r"[0-9A-Za-z가-힣]+")
_HANGUL = re.compile(r"[가-힣]")
_LATIN = re.compile(r"[A-Za-z]")


def gate_low_quality(text: str) -> bool:
    """F10: list-like page heuristic — ≥5 lines and >70% of them short
    (<50 chars stripped, +0.5 weight per date-stamped line)."""
    lines = text.split("\n")
    if len(lines) < 5:
        return False
    short = 0.0
    for line in lines:
        if len(line.strip()) < 50:
            short += 1
        if _DATE.search(line):
            short += 0.5
    return (short / len(lines)) > 0.7


def _gate_tokens(s: str) -> list[str]:
    return [t for t in _TOKEN.findall(s.lower()) if len(t) >= 2]


def gate_keeper(text: str, instruction: str) -> bool:
    """L1: relevant iff any instruction token appears in the first
    1500 chars; empty/None → False."""
    if not text or not instruction:
        return False
    inst = set(_gate_tokens(instruction))
    if not inst:
        return False
    return bool(inst & set(_gate_tokens(text[:1500])))


def gate_analyze(text: str, instruction: str) -> tuple[float, str]:
    """L2: (relevance_score, language) on the 4000-char snippet —
    score = round(min(1, |overlap| / |instruction tokens|), 3),
    language by hangul/latin character ratio (≥0.3 hangul → ko)."""
    snippet = text[:4000]
    toks = _gate_tokens(snippet)
    inst = list(dict.fromkeys(_gate_tokens(instruction or "")))
    overlap = len(set(toks) & set(inst))
    score = round(min(1.0, overlap / len(inst)), 3) if inst else 0.0
    hangul = len(_HANGUL.findall(snippet))
    latin = len(_LATIN.findall(snippet))
    total = hangul + latin
    if total == 0:
        language = "unknown"
    elif hangul / total >= 0.3:
        language = "ko"
    else:
        language = "en"
    return score, language


# --- density extract: independent transcription of the E4 final clean -------

# the clean-chain constants are the reference's published parity values
# (SURVEY E4/E5); the transcription below re-evaluates them outside the
# engine's code path
_MULTI_BLANK = re.compile(r"(\n\s*){3,}")
_DENSITY_LINE_NOISE = [
    "다운로드", "뷰어", "첨부파일", "목록으로", "이전글", "다음글", "맨위로",
    "Copyright", "All rights reserved", "찾아오시는 길", "개인정보처리방침",
    "유용한 정보가 되었나요?",
]
_DENSITY_META = re.compile(r"^\s*(작성자|등록일|조회수|담당부서|키워드|분류)\s*[:\s]")


def density_clean_len(text: str) -> int:
    """Expected extracted-text length for the synthesized page: the
    content div holds exactly the raw text, so the extraction reduces
    to the density final-clean line filter over it."""
    t = _MULTI_BLANK.sub("\n\n", text or "")
    out = []
    for line in t.split("\n"):
        s = line.strip()
        if not s or len(s) < 10:
            continue
        if any(k in s for k in _DENSITY_LINE_NOISE):
            continue
        if _DENSITY_META.match(s):
            continue
        out.append(s)
    return len("\n".join(out))


# --- simhash pairs: independent fingerprint + brute-force Hamming -----------

_SPLITMIX_C1 = 0x9E3779B97F4A7C15
_SPLITMIX_C2 = 0xBF58476D1CE4E5B9
_SPLITMIX_C3 = 0x94D049BB133111EB
_U64 = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    z = (x + _SPLITMIX_C1) & _U64
    z = ((z ^ (z >> 30)) * _SPLITMIX_C2) & _U64
    z = ((z ^ (z >> 27)) * _SPLITMIX_C3) & _U64
    return z ^ (z >> 31)


def simhash_independent(text: str | None) -> int:
    """Pure-int reimplementation of the 64-bit SimHash spec: per word,
    crc32 widened by the splitmix64 finalizer; per bit, +1/−1 votes;
    sign of the vote sets the bit. Returned as a signed int64."""
    if not text:
        return 0
    votes = [0] * 64
    for w in text.split():
        h = _splitmix64(zlib.crc32(w.encode("utf-8")))
        for i in range(64):
            votes[i] += 1 if (h >> i) & 1 else -1
    sim = 0
    for i in range(64):
        if votes[i] > 0:
            sim |= 1 << i
    return sim - (1 << 64) if sim >= (1 << 63) else sim


def simhash_hamming_pairs(docs: list[tuple[int, str]], max_hamming: int):
    """All (id_a < id_b, hamming ≤ max_hamming) by brute force."""
    sims = {d: simhash_independent(t) for d, t in docs}
    out = []
    for a, b in itertools.combinations(sorted(sims), 2):
        h = bin((sims[a] ^ sims[b]) & _U64).count("1")
        if h <= max_hamming:
            out.append((a, b, h))
    return out


# --- ANN top-k: independent hyperplane-LSH probe evaluation ------------------

def ann_lsh_topk_independent(
    ids, vecs, query, k: int = 10, n_bits: int = 8, seed: int = 42
):
    """Independent evaluation of the hyperplane-LSH probe spec: planes =
    default_rng(seed).standard_normal((dim, n_bits)) float32; signature
    = sign bits of vec @ planes (float32 matmul, the spec's arithmetic);
    probe set = query bucket + all Hamming-1 neighbors; exact cosine on
    candidates computed as a LEFT-TO-RIGHT double fold (the SQL
    aggregate's order), rounded to 4, top-k by (−cosine, id)."""
    import numpy as np

    dim = len(query)
    planes = np.random.default_rng(seed).standard_normal((dim, n_bits)).astype(
        np.float32
    )
    m = np.stack([np.asarray(v, dtype=np.float32) for v in vecs])
    bits = (m @ planes) > 0
    sigs = np.zeros(len(ids), dtype=np.int64)
    for b in range(n_bits):
        sigs |= bits[:, b].astype(np.int64) << b
    qbits = (np.asarray(query, dtype=np.float32) @ planes) > 0
    qsig = 0
    for b in range(n_bits):
        qsig |= int(qbits[b]) << b
    probes = {qsig} | {qsig ^ (1 << b) for b in range(n_bits)}

    import math

    def fold_dot(a, b):
        # zip_with(float_vec, double_lits, a*b): each product promotes
        # to double, then a left fold in double
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    def fold_norm(v):
        # transform(float_vec, a*a) squares IN FLOAT32 (float*float stays
        # float in SQL), then the fold accumulates in double
        acc = 0.0
        for x in v:
            acc += float(np.float32(x) * np.float32(x))
        return math.sqrt(acc)

    qn = float(np.linalg.norm(query))  # the engine's driver-side constant
    scored = []
    for i, vid in enumerate(ids):
        if int(sigs[i]) not in probes:
            continue
        v = [float(x) for x in vecs[i]]
        cos = round(fold_dot(v, query) / (fold_norm(v) * qn), 4)
        scored.append((vid, cos))
    scored.sort(key=lambda t: (-t[1], t[0]))
    return scored[:k]


def ann_ivf_topk_independent(
    ids, vecs, query, k: int = 10, n_cells: int = 16, n_probe: int = 4
):
    """Independent evaluation of the IVF ANN probe spec:

    * centroid selection — the ``n_cells`` rows with the smallest
      ``((vec_id mod 2^32) * 1103515245 + 12345) mod 2^31`` (ties by
      id), each L2-normalized in float64 (zero-norm rows kept as-is);
    * assignment — per cell one float64 gemv ``matrix @ centroid``,
      cell = argmax (first max wins);
    * probe set — the ``n_probe`` cells with the largest float64
      ``centroid · query`` (ties by cell id);
    * exact cosine on candidates with the SQL fold arithmetic
      (float32 squares in the norm, left-to-right double folds),
      rounded to 4; top-k by (−cosine, id).
    """
    import math

    import numpy as np

    keys = (np.asarray(ids, dtype=np.int64) % 2**32) * 1103515245 + 12345
    keys %= 2**31
    sel = sorted(range(len(ids)), key=lambda i: (keys[i], ids[i]))[:n_cells]
    cents = np.stack([np.asarray(vecs[i], dtype=np.float64) for i in sel])
    norms = np.linalg.norm(cents, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    cents = cents / norms

    m = np.stack([np.asarray(v, dtype=np.float32) for v in vecs]).astype(
        np.float64
    )
    sims = np.column_stack([m @ np.ascontiguousarray(c) for c in cents])
    cells = np.argmax(sims, axis=1)

    qsims = cents @ np.asarray(query, dtype=np.float64)
    probe_order = sorted(range(n_cells), key=lambda c: (-qsims[c], c))
    probes = set(probe_order[: max(1, n_probe)])

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    def fold_norm(v):
        acc = 0.0
        for x in v:
            acc += float(np.float32(x) * np.float32(x))
        return math.sqrt(acc)

    qn = float(np.linalg.norm(query))
    scored = []
    for i, vid in enumerate(ids):
        if int(cells[i]) not in probes:
            continue
        v = [float(x) for x in vecs[i]]
        cos = round(fold_dot(v, query) / (fold_norm(v) * qn), 4)
        scored.append((vid, cos))
    scored.sort(key=lambda t: (-t[1], t[0]))
    return scored[:k]


# --- multimodal features: independent fake-decode spec evaluation -----------

def multimodal_features_independent(n: int = 48, seed: int = 42, dim: int = 16):
    """Independent evaluation of the multimodal fake-decode contract:
    the synthetic media stream is one ``default_rng(seed)`` drawing
    ``256 + (i % 7) * 128`` payload bytes per asset (kinds cycling
    image/audio/video), and the stand-in decoder seeds a fresh
    ``default_rng`` from the first 8 little-endian bytes of
    sha256(payload) and emits ``standard_normal(dim)`` in float32.
    Output matches the queries() projection: (asset_id, kind, n_bytes,
    f0 = first feature rounded to 4 with Spark ROUND's HALF_UP on the
    shortest-repr double — NOT Python's banker's rounding)."""
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    rng = np.random.default_rng(seed)
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        payload = rng.bytes(256 + (i % 7) * 128)
        digest = hashlib.sha256(payload).digest()
        fseed = int.from_bytes(digest[:8], "little")
        feat0 = np.random.default_rng(fseed).standard_normal(dim).astype(np.float32)[0]
        f0 = float(
            Decimal(repr(float(feat0))).quantize(
                Decimal("1e-4"), rounding=ROUND_HALF_UP
            )
        )
        rows.append((i, kinds[i % 3], len(payload), f0))
    return rows


# --- minhash pairs: brute-force exact n-gram Jaccard ------------------------

def _shingle_set(text: str | None, n: int = 3) -> set[str]:
    words = (text or "").split()
    if len(words) < n:
        return {" ".join(words)} if words else set()
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


def exact_jaccard_pairs(docs: list[tuple[int, str]], threshold: float = 0.5):
    """All (id_a < id_b, jaccard) with exact word-3-gram Jaccard ≥
    threshold, brute force over every pair."""
    sets = {d: _shingle_set(t) for d, t in docs}
    out = []
    for a, b in itertools.combinations(sorted(sets), 2):
        sa, sb = sets[a], sets[b]
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        if inter == 0:
            continue
        j = inter / (len(sa) + len(sb) - inter)
        if j >= threshold:
            out.append((a, b, j))
    return out


SUBSTR_PRE = (
    "terms of service apply to all content reproduced herein "
    "without warranty of any kind"
)
SUBSTR_TAIL_A = " subscribe to channel "
SUBSTR_TAIL_B = (
    " for the latest updates and breaking news delivered straight "
    "to your inbox daily"
)


def substring_enrich(doc_id: int, text: str | None) -> str:
    """The deterministic planted-duplicate corpus for the
    substring_dedup entry (mirrors queries()['substring_dedup'])."""
    pre = (SUBSTR_PRE + " ") if doc_id % 4 == 0 else ""
    return (
        pre + (text or "") + SUBSTR_TAIL_A + str(doc_id % 10) + SUBSTR_TAIL_B
    )


def substring_spans_independent(
    docs: list[tuple[int, str]], min_tokens: int = 12
) -> list[tuple[int, int, int, int]]:
    """Brute-force duplicated-run spans: gram STRINGS (no hashing),
    dict counting of distinct docs per gram, plain-Python interval
    merge — an independent transcription of the span definition (a
    token is in a span iff some cross-doc-duplicated min_tokens-gram
    window covers it; overlapping or abutting windows merge)."""
    from collections import defaultdict

    k = min_tokens
    gram_docs: dict[tuple, set] = defaultdict(set)
    toks: dict[int, list[str]] = {}
    for did, t in docs:
        w = (t or "").split()
        toks[did] = w
        for i in range(len(w) - k + 1):
            gram_docs[tuple(w[i : i + k])].add(did)
    out = []
    for did in sorted(toks):
        w = toks[did]
        spans: list[list[int]] = []
        for p in range(len(w) - k + 1):
            if len(gram_docs[tuple(w[p : p + k])]) < 2:
                continue
            if spans and p <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], p + k - 1)
            else:
                spans.append([p, p + k - 1])
        for s, e in spans:
            out.append((did, s, e, e - s + 1))
    return out


def main() -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet') ORDER BY doc_id"
    ).df()

    fp = pd.DataFrame(
        {
            "doc_id": docs["doc_id"],
            "fingerprint": [fingerprint_independent(t) for t in docs["text"]],
        }
    )
    fp["fingerprint"] = fp["fingerprint"].astype("int64")
    fp.to_parquet(os.path.join(OUT_DIR, f"doc_fingerprint_sf{SF}.parquet"), index=False)

    instruction = "data query batch window partition"
    rows = []
    for doc_id, t in zip(docs["doc_id"], docs["text"]):
        if t is None or gate_low_quality(t):
            continue
        if not gate_keeper(t, instruction):
            continue
        score, language = gate_analyze(t, instruction)
        if score >= 0.2:
            rows.append((doc_id, score, language))
    gc = pd.DataFrame(rows, columns=["doc_id", "relevance_score", "language"])
    gc.to_parquet(os.path.join(OUT_DIR, f"gate_cascade_sf{SF}.parquet"), index=False)

    de = pd.DataFrame(
        {
            "doc_id": docs["doc_id"],
            "extracted_len": [density_clean_len(t) for t in docs["text"]],
        }
    )
    de["extracted_len"] = de["extracted_len"].astype("int64")
    de.to_parquet(os.path.join(OUT_DIR, f"density_extract_sf{SF}.parquet"), index=False)

    pairs = exact_jaccard_pairs(list(zip(docs["doc_id"], docs["text"])), threshold=0.5)
    mh = pd.DataFrame(pairs, columns=["id_a", "id_b", "jaccard"])
    mh["id_a"] = mh["id_a"].astype("int64")
    mh["id_b"] = mh["id_b"].astype("int64")
    mh.to_parquet(os.path.join(OUT_DIR, f"minhash_pairs_sf{SF}.parquet"), index=False)

    sh_pairs = simhash_hamming_pairs(
        list(zip(docs["doc_id"], docs["text"])), max_hamming=12
    )
    sp = pd.DataFrame(sh_pairs, columns=["id_a", "id_b", "hamming"])
    sp["id_a"] = sp["id_a"].astype("int64")
    sp["id_b"] = sp["id_b"].astype("int64")
    sp["hamming"] = sp["hamming"].astype("int32")
    sp.to_parquet(os.path.join(OUT_DIR, f"simhash_pairs_sf{SF}.parquet"), index=False)

    sd = pd.DataFrame(
        substring_spans_independent(
            [
                (int(d), substring_enrich(int(d), t))
                for d, t in zip(docs["doc_id"], docs["text"])
            ],
            min_tokens=12,
        ),
        columns=["doc_id", "span_start", "span_end", "span_tokens"],
    )
    sd["doc_id"] = sd["doc_id"].astype("int64")
    sd["span_start"] = sd["span_start"].astype("int32")
    sd["span_end"] = sd["span_end"].astype("int32")
    sd["span_tokens"] = sd["span_tokens"].astype("int64")
    sd.to_parquet(
        os.path.join(OUT_DIR, f"substring_dedup_sf{SF}.parquet"), index=False
    )

    emb = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{SF_DIR}/embeddings.parquet') ORDER BY vec_id"
    ).df()
    ids = [int(v) for v in emb["vec_id"]]
    vecs = [list(v) for v in emb["embedding"]]
    query = [float(x) for x in vecs[ids.index(0)]]
    ann = pd.DataFrame(
        ann_lsh_topk_independent(ids, vecs, query, k=10, n_bits=8, seed=42),
        columns=["vec_id", "cosine"],
    )
    ann["vec_id"] = ann["vec_id"].astype("int64")
    ann.to_parquet(os.path.join(OUT_DIR, f"ann_lsh_topk_sf{SF}.parquet"), index=False)

    # IVF probe spec: a different query row (vec_id 1) than the LSH
    # entry so the two ANN oracles don't share a probe geometry
    query_ivf = [float(x) for x in vecs[ids.index(1)]]
    ivf = pd.DataFrame(
        ann_ivf_topk_independent(ids, vecs, query_ivf, k=10, n_cells=16, n_probe=4),
        columns=["vec_id", "cosine"],
    )
    ivf["vec_id"] = ivf["vec_id"].astype("int64")
    ivf.to_parquet(os.path.join(OUT_DIR, f"ann_ivf_topk_sf{SF}.parquet"), index=False)

    mm = pd.DataFrame(
        multimodal_features_independent(),
        columns=["asset_id", "kind", "n_bytes", "f0"],
    )
    mm["asset_id"] = mm["asset_id"].astype("int64")
    mm["n_bytes"] = mm["n_bytes"].astype("int64")
    mm.to_parquet(
        os.path.join(OUT_DIR, f"multimodal_features_sf{SF}.parquet"), index=False
    )

    print(
        f"wrote fixtures for sf{SF} to {OUT_DIR}: "
        f"fingerprint={len(fp)} gate_cascade={len(gc)} "
        f"density={len(de)} minhash_pairs={len(mh)} "
        f"simhash_pairs={len(sp)} ann_lsh_topk={len(ann)} "
        f"ann_ivf_topk={len(ivf)} multimodal_features={len(mm)}"
    )


if __name__ == "__main__":
    main()
