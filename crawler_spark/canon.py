"""URL canonicalization + the PDF-viewer link rewrite.

Reference semantics being re-expressed (behavior only, no code reuse;
links are absolutized at extraction, ``functions/html_extract.py``):

* links are absolutized with ``urljoin(current_url, href)`` and hrefs
  starting ``#`` / ``javascript:`` are dropped
  (reference: src/crawler/high_performance_extractor.py:357-363);
* the URL validator rejects non-http(s) schemes, cross-domain URLs, any
  URL containing ``#``, and ``javascript:void(0)``
  (reference: src/utils/url_validator.py:5-13).

The engine's canonical form (the key the seen-set hashes) additionally
lowercases scheme+host and strips default ports and fragments, so that
trivially-aliased URLs dedup. Canonicalization is a vectorized pandas UDF
(urljoin needs real URL parsing; per-row Python is banned, per-batch
pandas ``.map`` over Arrow batches is the sanctioned path).
"""

from __future__ import annotations

from urllib.parse import parse_qs, unquote, urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


def canonicalize(url: str) -> str:
    """Canonical form of an absolute URL (pure function, used per batch)."""
    try:
        parts = urlsplit(url)
    except ValueError:
        return url
    scheme = parts.scheme.lower()
    host = parts.hostname or ""
    port = parts.port
    netloc = host.lower()
    if port is not None and not (
        (scheme == "http" and port == 80) or (scheme == "https" and port == 443)
    ):
        netloc = f"{netloc}:{port}"
    path = parts.path or "/"
    return urlunsplit((scheme, netloc, path, parts.query, ""))


def viewer_file_url(url: str, base_url: str) -> str | None:
    """E7: PDF-viewer ``file=`` query rewrite.

    Reference behavior (src/crawler/data_extractor.py:120-125,
    ``_get_real_pdf_url_from_viewer``): if the URL's query string carries
    a ``file`` parameter, the real document URL is
    ``urljoin(base_url, unquote(file_param))``; otherwise None. Any parse
    error → None (the link is treated as a normal page link).
    """
    try:
        qs = parse_qs(urlsplit(url).query)
    except ValueError:
        return None
    if "file" in qs and qs["file"]:
        try:
            return urljoin(base_url, unquote(qs["file"][0]))
        except ValueError:
            return None
    return None


@F.pandas_udf(StringType())
def viewer_rewrite_udf(urls: pd.Series, bases: pd.Series) -> pd.Series:
    return pd.Series(
        [
            viewer_file_url(u, b) if u is not None and b is not None else None
            for u, b in zip(urls, bases)
        ]
    )


def with_viewer_rewrite(df, url_col: str = "url", base_col: str = "base_url"):
    """Add ``real_url`` and ``is_viewer``: viewer links (query has a
    ``file`` param) are rewritten to their decoded target and flagged,
    everything else passes through unchanged. Same filter-split shape as
    :func:`with_canonical_split`: a JVM ``contains('file=')`` guard
    routes only candidate rows through the Arrow UDF (the guard is a
    superset — e.g. ``profile=`` — and the UDF's exact ``parse_qs``
    check returns None for non-matches). The guard is coalesced to
    False so NULL-url rows take the plain branch instead of silently
    vanishing from the union (``NULL.contains(...)`` is NULL, which
    fails both branch filters). ``is_viewer`` comes from the UDF's
    non-null result, not a string inequality — a viewer link whose
    decoded target happens to equal the original URL is still flagged."""
    url = F.col(url_col)
    guard = F.coalesce(url.contains("file="), F.lit(False))
    plain = (
        df.filter(~guard)
        .withColumn("real_url", url)
        .withColumn("is_viewer", F.lit(False))
    )
    viewer = (
        df.filter(guard)
        .withColumn("_vr", viewer_rewrite_udf(url, F.col(base_col)))
        .withColumn("real_url", F.coalesce(F.col("_vr"), url))
        .withColumn("is_viewer", F.col("_vr").isNotNull())
        .drop("_vr")
    )
    return plain.unionByName(viewer)


# --- Spark-side columns -------------------------------------------------

@F.pandas_udf(StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: canonicalize(u) if u is not None else None)


# URLs matching this are already in canonical form (lowercase http(s)
# scheme+host, no port/userinfo/fragment, non-empty path) — for them
# canonicalize() is the identity, so the plan skips the Python UDF
# entirely and stays in codegen. Anything unusual takes the slow path.
_ALREADY_CANONICAL_RE = r"^https?://[a-z0-9][a-z0-9.-]*/[^#]*$"


def with_canonical_split(df, url_col: str = "url"):
    """Add ``canonical_url`` via filter-split: rows matching the
    already-canonical regex take a zero-cost JVM identity branch; only
    the oddballs (ports, uppercase, fragments, userinfo) pay the Arrow
    UDF. The regex guard is coalesced to False so NULL urls take the UDF
    branch (which maps them to NULL) instead of vanishing from the union.
    The union preserves no ordering — callers downstream must not
    rely on row order (the engine orders by data columns everywhere)."""
    url = F.col(url_col)
    guard = F.coalesce(url.rlike(_ALREADY_CANONICAL_RE), F.lit(False))
    simple = df.filter(guard).withColumn("canonical_url", url)
    odd = df.filter(~guard).withColumn("canonical_url", canonicalize_udf(url))
    return simple.unionByName(odd)
