"""Attachment parsing pipeline (E8/E9/S3/S7): extension-dispatched
document-to-text over binary payloads, with the reference's failure
semantics.

Reference behavior being re-expressed (data_extractor*.py, studied):
* dispatch table keyed on file extension (.pdf/.docx/.xlsx/.pptx/.hwp);
* parsed text is appended to the page text wrapped in
  ``--- [첨부 파일 시작: name] --- … --- [첨부 파일 끝] ---`` markers;
* a parse failure writes the sentinel line the downstream F11 gate keys
  on, and the raw payload goes to the failed-attachments sink.

The sandbox ships none of the document libraries (pypdf, python-docx,
openpyxl, python-pptx, hwp5 — all verified absent), so each format
parser is import-guarded: present → real parse; absent → raises, which
flows into the *failure path* (sentinel + failed sink) — i.e. the
distributed plumbing, dispatch, marker formatting, sentinel semantics
and failure sink are all real and tested; only the per-format byte
decoding needs the libraries. ``.txt``/``.csv`` parse for real (stdlib)
so the success path is exercised end-to-end too, and ``.pdf`` — the
dominant attachment type in the reference's domain — falls back to a
dependency-free minimal extractor (:func:`_parse_pdf_minimal`:
uncompressed/FlateDecode streams, literal/hex show-text operators)
when pypdf is absent, so the common case parses for real in-sandbox.

Spark surface: one ``mapInPandas`` stage over ``(url, payload)`` —
Arrow-batched, streaming through batches, no driver collect.
"""

from __future__ import annotations

import io
import re
import zlib
from collections.abc import Iterator
from pathlib import PurePosixPath
from urllib.parse import urlparse

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

ATTACHMENT_START = "--- [첨부 파일 시작: {name}] ---"
ATTACHMENT_END = "--- [첨부 파일 끝] ---"
PARSE_FAIL_SENTINEL = "--- [첨부 파일 처리 실패: {name}] ---"


def _parse_txt(content: bytes) -> str:
    return content.decode("utf-8", errors="ignore")


def _parse_csv(content: bytes) -> str:
    df = pd.read_csv(io.BytesIO(content))
    return df.to_string()


_PDF_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}
_PDF_OCTAL = frozenset(bytes([c]) for c in b"01234567")


def _pdf_unescape(raw: bytes) -> bytes:
    """PDF literal-string escapes (ISO 32000-1 §7.3.4.2): named escapes,
    1-3 digit octal codes (digits 0-7 only), line continuations; an
    unknown ``\\x`` — ``\\8`` and ``\\9`` included — is the char itself
    per spec."""
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i : i + 1]
        if c != b"\\" or i + 1 >= len(raw):
            out += c
            i += 1
            continue
        nxt = raw[i + 1 : i + 2]
        if nxt in _PDF_ESCAPES:
            out += _PDF_ESCAPES[nxt]
            i += 2
        elif nxt in _PDF_OCTAL:
            j = i + 1
            while j < min(i + 4, len(raw)) and raw[j : j + 1] in _PDF_OCTAL:
                j += 1
            out.append(int(raw[i + 1 : j], 8) & 0xFF)
            i = j
        elif nxt in (b"\n", b"\r"):
            i += 2  # line continuation: both chars vanish
        else:
            out += nxt
            i += 2
    return bytes(out)


# show-text operators over a decoded content stream: literal-string
# Tj / ' / ", TJ arrays (kerning numbers ignored), hex-string Tj. A bare
# '[' is only the start of a candidate TJ array: _pdf_show_texts scans
# its body, not a nested star here — on a bracket-heavy stream with no
# closing ']' that star rescanned to the end from every '['.
_PDF_LIT = rb"\(((?:\\.|[^\\()])*)\)"
_PDF_SHOW_RE = re.compile(_PDF_LIT + rb"\s*(?:Tj|'|\")|\[|<([0-9A-Fa-f\s]+)>\s*Tj")
_PDF_LIT_RE = re.compile(_PDF_LIT)
# a TJ array body: literal strings (which may hold ']') and any other
# byte but ']'; the alternatives start with distinct bytes, so the scan
# is one linear pass that stops at the closing ']' or the stream's end
_PDF_TJ_BODY_RE = re.compile(rb"(?:" + _PDF_LIT + rb"|\(|[^\](])*")
_PDF_TJ_TAIL_RE = re.compile(rb"\]\s*TJ")


def _pdf_show_texts(data: bytes):
    """Text of each show-text operator in a decoded content stream, in
    stream order. Linear in ``len(data)``: a '[' whose array scan fails
    (no ']', or no TJ after it) marks every '[' up to where that scan
    stopped as failing too, so no stretch is array-scanned twice."""
    pos = 0
    no_array_before = 0
    while (m := _PDF_SHOW_RE.search(data, pos)) is not None:
        lit, hexs = m.group(1), m.group(2)
        pos = m.end()
        if lit is not None:
            yield _pdf_unescape(lit).decode("latin-1")
        elif hexs is not None:
            h = b"".join(hexs.split())
            if len(h) % 2:
                h += b"0"
            yield bytes.fromhex(h.decode("ascii")).decode("latin-1")
        elif m.start() >= no_array_before:  # '[': a TJ array iff '] TJ' ends it
            body_end = _PDF_TJ_BODY_RE.match(data, pos).end()
            tail = _PDF_TJ_TAIL_RE.match(data, body_end)
            if tail is None:
                no_array_before = body_end
                continue
            yield "".join(
                _pdf_unescape(g.group(1)).decode("latin-1")
                for g in _PDF_LIT_RE.finditer(data, pos, body_end)
            )
            pos = tail.end()


def _iter_pdf_streams(content: bytes):
    """(dict_head, stream_body) pairs by lexical scan — no xref needed,
    which also makes the parser robust to truncated/append-updated files
    (any intact stream still yields its text)."""
    pos = 0
    while True:
        s = content.find(b"stream", pos)
        if s < 0:
            return
        if content[max(0, s - 3) : s] == b"end":  # inside 'endstream'
            pos = s + 6
            continue
        e = content.find(b"endstream", s)
        if e < 0:
            return
        body_start = s + 6
        if content[body_start : body_start + 2] == b"\r\n":
            body_start += 2
        elif content[body_start : body_start + 1] in (b"\n", b"\r"):
            body_start += 1
        yield content[max(0, s - 600) : s], content[body_start:e].rstrip(b"\r\n")
        pos = e + 9


def _parse_pdf_minimal(content: bytes) -> str:
    """Dependency-free PDF text extraction for the COMMON subset:
    uncompressed or FlateDecode content streams with literal/hex-string
    show-text operators (Tj / ' / " / TJ) — zlib is stdlib, so the
    dominant attachment format of the reference's domain parses for real
    even where pypdf is absent. Out of scope (→ empty → the F11
    sentinel path): LZW/DCT/CCITT filters, CID/CMap composite fonts,
    encrypted documents. Byte strings decode as Latin-1, correct for
    Standard/WinAnsi simple fonts' ASCII range."""
    chunks: list[str] = []
    for head, body in _iter_pdf_streams(content or b""):
        if b"/FlateDecode" in head:
            try:
                data = zlib.decompress(body)
            except zlib.error:
                continue
        else:
            data = body
        if b"BT" not in data:  # no text block in this stream
            continue
        chunks += _pdf_show_texts(data)
    return "\n".join(c for c in chunks if c).strip()


def _parse_pdf(content: bytes) -> str:
    try:
        from pypdf import PdfReader  # preferred when present
    except ImportError:
        return _parse_pdf_minimal(content)
    return "\n".join(
        p.extract_text() for p in PdfReader(io.BytesIO(content)).pages if p.extract_text()
    )


def _parse_docx(content: bytes) -> str:
    from docx import Document  # import-guarded

    return "\n".join(p.text for p in Document(io.BytesIO(content)).paragraphs if p.text)


def _parse_excel(content: bytes) -> str:
    xls = pd.ExcelFile(io.BytesIO(content))  # needs openpyxl at runtime
    return "\n\n".join(xls.parse(s).to_string() for s in xls.sheet_names)


def _parse_pptx(content: bytes) -> str:
    from pptx import Presentation  # import-guarded

    prs = Presentation(io.BytesIO(content))
    return "\n".join(
        sh.text for sl in prs.slides for sh in sl.shapes if hasattr(sh, "text")
    )


def _parse_hwp(content: bytes) -> str:
    # import-guarded like pdf/docx: the reference's target domain
    # (Korean gov sites) is HWP-heavy (dispatch parity:
    # src/crawler/data_extractor.py:36-40). Absent lib → ImportError →
    # the standard failure-sentinel path.
    import hwp5  # noqa: F401

    from hwp5.hwp5txt import TextTransform
    from hwp5.xmlmodel import Hwp5File

    out = io.StringIO()
    TextTransform().transform_hwp5_to_text(Hwp5File(io.BytesIO(content)), out)
    return out.getvalue()


PARSERS = {
    ".txt": _parse_txt,
    ".csv": _parse_csv,
    ".pdf": _parse_pdf,
    ".docx": _parse_docx,
    ".xlsx": _parse_excel,
    ".xls": _parse_excel,
    ".pptx": _parse_pptx,
    ".hwp": _parse_hwp,
}


# Extensions the dispatch table can parse (keep in sync with PARSERS).
PARSER_EXT_RE = r"(?i)\.(txt|csv|pdf|docx|xlsx|xls|pptx|hwp)$"


def classify_attachment_links(
    df: DataFrame, url_col: str = "url", base_col: str = "base_url"
) -> DataFrame:
    """E9 + E7: split extracted links into attachment candidates vs page
    links, mirroring the reference's link loop
    (src/crawler/data_extractor.py:148-161):

    * a link whose query carries ``file=`` is a PDF-viewer wrapper — the
      attachment URL is the decoded ``file`` target (E7 rewrite), taken
      unconditionally;
    * otherwise a link whose path extension is in the parser dispatch
      table AND whose host matches the site base is an attachment (E9);
    * everything else is a page link.

    Adds ``attachment_url`` (the URL to fetch — rewritten for viewer
    links) and ``is_attachment``. Viewer detection runs through the
    JVM-guarded split of :func:`crawler_spark.canon.with_viewer_rewrite`,
    so non-``file=`` rows never leave codegen.
    """
    from pyspark.sql import functions as F

    from crawler_spark.canon import with_viewer_rewrite

    out = with_viewer_rewrite(df, url_col, base_col)
    # viewer detection is the UDF's non-null result (is_viewer), not a
    # real_url != url string inequality — a viewer link whose decoded
    # file target equals the original URL is still an attachment.
    same_host = F.lower(
        F.parse_url(F.col(url_col), F.lit("HOST"))
    ) == F.lower(F.parse_url(F.col(base_col), F.lit("HOST")))
    ext_hit = F.parse_url(F.col("real_url"), F.lit("PATH")).rlike(PARSER_EXT_RE)
    # coalesce: a NULL base_url (→ NULL same_host) must classify as a
    # page link (False), not propagate NULL through the boolean algebra
    return out.withColumn(
        "is_attachment",
        F.coalesce(F.col("is_viewer") | (ext_hit & same_host), F.lit(False)),
    ).withColumnRenamed("real_url", "attachment_url").drop("is_viewer")


def attachment_name(url: str) -> str:
    return PurePosixPath(urlparse(url).path).name


def parse_attachment(url: str, payload: bytes | None) -> tuple[str, bool]:
    """(text_block, ok). Failure → the F11 sentinel block (ok=False)."""
    name = attachment_name(url)
    ext = PurePosixPath(name).suffix.lower()
    parser = PARSERS.get(ext)
    if parser is None:
        return "", False
    try:
        text = parser(payload or b"")
        if not text:
            raise ValueError("parser returned empty text")
        return (
            f"\n\n{ATTACHMENT_START.format(name=name)}\n{text}\n{ATTACHMENT_END}\n",
            True,
        )
    except Exception:
        return f"\n\n{PARSE_FAIL_SENTINEL.format(name=name)}\n", False


PARSED = StructType(
    [
        StructField("url", StringType()),
        StructField("text_block", StringType()),
        StructField("ok", BooleanType()),
    ]
)

FAILED = StructType(
    [
        StructField("url", StringType()),
        StructField("reason", StringType()),
        StructField("payload", BinaryType()),
    ]
)


def parse_attachments(df: DataFrame) -> DataFrame:
    """(url, payload) → (url, text_block, ok) via mapInPandas."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts, oks = [], []
            for u, p in zip(pdf["url"], pdf["payload"]):
                t, ok = parse_attachment(u, p)
                texts.append(t)
                oks.append(ok)
            yield pd.DataFrame({"url": pdf["url"], "text_block": texts, "ok": oks})

    return df.mapInPandas(gen, PARSED)
