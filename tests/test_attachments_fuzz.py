"""Attachment pipeline tests + hypothesis fuzz of the hashing/canon/clean
cores (property-based, pure Python — no Spark in the fuzz paths)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from crawler_spark.canon import canonicalize
from crawler_spark.functions.html_extract import clean_extracted_text, extract_page
from crawler_spark.hashing import xxhash64_bytes, xxhash64_str
from crawler_spark.operators.attachments import (
    PARSE_FAIL_SENTINEL,
    parse_attachment,
    parse_attachments,
)
from crawler_spark.functions.scoring import PARSE_FAILURE_SENTINEL


def test_attachment_txt_csv_success_path():
    t, ok = parse_attachment("https://h/files/a.txt", "hello 한국어 text".encode())
    assert ok and "첨부 파일 시작: a.txt" in t and "hello" in t and "첨부 파일 끝" in t
    t, ok = parse_attachment("https://h/files/b.csv", b"x,y\n1,2\n3,4\n")
    assert ok and "1" in t and "첨부 파일 시작: b.csv" in t


def test_attachment_failure_writes_f11_sentinel():
    # pdf parser library absent in this environment → failure path
    t, ok = parse_attachment("https://h/files/r.pdf", b"%PDF-1.4 garbage")
    assert not ok
    assert PARSE_FAIL_SENTINEL.format(name="r.pdf") in t
    # the cascade's F11 gate must trip on this block
    assert PARSE_FAILURE_SENTINEL in t


def test_attachment_unknown_extension():
    t, ok = parse_attachment("https://h/files/a.xyz", b"bytes")
    assert not ok and t == ""


def test_hwp_routed_to_failure_sentinel_in_sandbox():
    """E8 parity: .hwp IS in the dispatch table (reference
    data_extractor.py:36-40); with hwp5 absent here, the parser raises
    and the standard sentinel path fires (not the unknown-ext path)."""
    from crawler_spark.operators.attachments import PARSERS

    assert ".hwp" in PARSERS
    t, ok = parse_attachment("https://h/files/공문.hwp", b"\xd0\xcf\x11\xe0 fake-hwp")
    assert not ok
    assert PARSE_FAIL_SENTINEL.format(name="공문.hwp") in t


def test_viewer_file_rewrite_pure():
    """E7: parse_qs → unquote → urljoin semantics of the reference's
    _get_real_pdf_url_from_viewer (data_extractor.py:120-125)."""
    from crawler_spark.canon import viewer_file_url

    base = "https://gov.example.org/board/"
    u = "https://gov.example.org/viewer/pdfjs.html?file=%2Ffiles%2F공고.pdf"
    assert viewer_file_url(u, base) == "https://gov.example.org/files/공고.pdf"
    # relative file param resolves against the SITE base url
    u2 = "https://gov.example.org/viewer/web/viewer.html?file=doc%2Fa.pdf"
    assert viewer_file_url(u2, base) == "https://gov.example.org/board/doc/a.pdf"
    # no file param → None (normal page link)
    assert viewer_file_url("https://gov.example.org/page?id=3", base) is None
    # 'profile=' must not trigger (exact-key semantics)
    assert viewer_file_url("https://gov.example.org/p?profile=x", base) is None


def test_classify_attachment_links_spark(spark):
    from pyspark.sql import functions as F

    from crawler_spark.operators.attachments import classify_attachment_links

    base = "https://gov.example.org/"
    rows = [
        ("https://gov.example.org/viewer.html?file=%2Ffiles%2Fa.pdf", base),  # E7
        ("https://gov.example.org/files/b.hwp", base),                         # E9
        ("https://cdn.other.org/files/c.pdf", base),        # ext but cross-host
        ("https://gov.example.org/board/list?page=2", base),  # page link
        ("https://gov.example.org/p?profile=xyz", base),      # guard superset
    ]
    df = spark.createDataFrame(rows, "url string, base_url string")
    got = {
        r["url"]: (r["is_attachment"], r["attachment_url"])
        for r in classify_attachment_links(df).collect()
    }
    assert got[rows[0][0]] == (True, "https://gov.example.org/files/a.pdf")
    assert got[rows[1][0]] == (True, rows[1][0])
    assert got[rows[2][0]][0] is False
    assert got[rows[3][0]][0] is False
    assert got[rows[4][0]] == (False, rows[4][0])


def test_attachment_spark_pipeline(spark):
    rows = [
        ("https://h/files/a.txt", bytearray(b"plain text attachment body")),
        ("https://h/files/b.pdf", bytearray(b"%PDF garbage")),
        ("https://h/files/c.csv", bytearray(b"a,b\n1,2\n")),
        ("https://h/files/d.xyz", bytearray(b"??")),
    ]
    df = spark.createDataFrame(rows, "url string, payload binary")
    got = {r["url"]: r for r in parse_attachments(df).collect()}
    assert got["https://h/files/a.txt"]["ok"] is True
    assert got["https://h/files/c.csv"]["ok"] is True
    assert got["https://h/files/b.pdf"]["ok"] is False
    assert "첨부 파일 처리 실패" in got["https://h/files/b.pdf"]["text_block"]
    assert got["https://h/files/d.xyz"]["text_block"] == ""


# --- hypothesis fuzz ---------------------------------------------------------

@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=256))
def test_xxhash64_matches_reference_vectors(data):
    """Self-consistency: bytes path and str path agree on UTF-8 input,
    values stay in signed-64 range (JVM-parity is checked against Spark
    in test_hashing.py; this fuzzes the pure implementation)."""
    h = xxhash64_bytes(data)
    assert 0 <= h < 2**64
    s = data.decode("utf-8", errors="ignore")
    assert -(2**63) <= xxhash64_str(s) < 2**63


@settings(max_examples=200, deadline=None)
@given(
    st.text(
        alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=0x2FFF),
        max_size=30,
    ),
    st.sampled_from(["http", "https"]),
    st.text(alphabet="abcdefghij.-", min_size=1, max_size=20),
)
def test_canonicalize_idempotent(path, scheme, host):
    url = f"{scheme}://{host}/{path}"
    once = canonicalize(url)
    assert canonicalize(once) == once  # idempotency


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=500))
def test_clean_chain_total_and_idempotent(text):
    out = clean_extracted_text(text)
    assert isinstance(out, str)
    assert "\n" not in out or all(len(ln) >= 10 for ln in out.split("\n"))
    # idempotent: cleaning cleaned text is a no-op
    assert clean_extracted_text(out) == out


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=2048))
def test_extract_page_never_raises(data):
    res = extract_page(data, "https://h.example.org/x", "h.example.org")
    assert res is None or isinstance(res["text"], str)


def _mk_pdf(content_stream: bytes, compress: bool = True) -> bytes:
    """Minimal synthetic PDF: one content stream, no xref (the lexical
    parser doesn't need one — and real-world truncated PDFs don't have
    a usable one either)."""
    import zlib

    body = zlib.compress(content_stream) if compress else content_stream
    filt = b"/Filter /FlateDecode " if compress else b""
    return (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(body)).encode()
        + b" "
        + filt
        + b">>\nstream\n"
        + body
        + b"\nendstream\nendobj\n%%EOF\n"
    )


def test_pdf_minimal_flate_parses_in_sandbox():
    """pypdf is absent here (verified) -> the dependency-free fallback
    must extract show-text from a FlateDecode content stream."""
    pdf = _mk_pdf(b"BT /F1 12 Tf 72 720 Td (Hello crawler) Tj ET")
    t, ok = parse_attachment("https://h/files/doc.pdf", pdf)
    assert ok, t
    assert "Hello crawler" in t
    assert "첨부 파일 시작: doc.pdf" in t


def test_pdf_minimal_operators_and_escapes():
    from crawler_spark.operators.attachments import _parse_pdf_minimal

    # TJ array with kerning numbers, ' operator, octal + named escapes,
    # hex string, uncompressed stream
    cs = (
        b"BT [(Wor) -20 (ld)] TJ (line\\ntwo \\(x\\) \\101) ' "
        b"<48656C6C6F> Tj ET"
    )
    out = _parse_pdf_minimal(_mk_pdf(cs, compress=False))
    assert "World" in out
    assert "line\ntwo (x) A" in out
    assert "Hello" in out
    # corrupt flate body -> stream skipped, no raise; no streams -> ""
    broken = _mk_pdf(b"BT (x) Tj ET").replace(b"stream\n", b"stream\n\xff\xfe", 1)
    assert isinstance(_parse_pdf_minimal(broken), str)
    assert _parse_pdf_minimal(b"%PDF-1.4 nothing here") == ""
    assert _parse_pdf_minimal(b"") == ""


def test_pdf_broken_payload_still_sentinels():
    t, ok = parse_attachment("https://h/files/junk.pdf", b"\x00\x01\x02 not a pdf")
    assert not ok
    assert PARSE_FAIL_SENTINEL.format(name="junk.pdf") in t


def test_pdf_octal_escape_takes_only_octal_digits():
    """Only \\0-\\7 start an octal code (ISO 32000-1 §7.3.4.2); \\8 and \\9
    are unknown escapes and yield the digit itself. Treating them as
    octal raised ValueError and sent the whole attachment to the
    failure sentinel."""
    from crawler_spark.operators.attachments import _pdf_unescape

    assert _pdf_unescape(b"a\\8b\\9c") == b"a8b9c"
    assert _pdf_unescape(b"\\48\\101\\0") == b"\x048A\x00"
    pdf = _mk_pdf(b"BT (page \\9 of \\8) Tj ET")
    t, ok = parse_attachment("https://h/files/octal.pdf", pdf)
    assert ok, t
    assert "page 9 of 8" in t


def test_pdf_bracket_bomb_is_linear():
    """A stream of 20k '[' with no closing ']' made the TJ-array regex
    rescan to the end from every '[' (quadratic); the bounded scan
    finishes well under a second and the empty result lands on the
    failure sentinel."""
    import time

    for compress in (False, True):
        pdf = _mk_pdf(b"BT" + b"[" * 20_000, compress=compress)
        t0 = time.perf_counter()
        t, ok = parse_attachment("https://h/files/bomb.pdf", pdf)
        assert time.perf_counter() - t0 < 1.0
        assert not ok
        assert PARSE_FAIL_SENTINEL.format(name="bomb.pdf") in t


def test_pdf_tj_arrays_around_brackets():
    """TJ arrays whose literals hold ']' still parse whole; a '[' that
    opens no TJ array leaves the show-text operators inside it intact."""
    from crawler_spark.operators.attachments import _parse_pdf_minimal

    cs = b"BT [(a]b) -5 (c)] TJ [ (d) Tj ] (e) Tj [(f) Tj ET"
    assert _parse_pdf_minimal(_mk_pdf(cs, compress=False)).split("\n") == [
        "a]bc", "d", "e", "f",
    ]
