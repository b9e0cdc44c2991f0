"""Arrow-batched pandas UDFs wrapping the parity twins in text.py / urls.py.

These are the ONLY Python↔JVM crossings in the crawl pipeline (input_hint:
"vectorized pandas/Arrow UDFs, no per-row Python"). Everything else —
filtering, joins, windows, hashing, bucketing — stays JVM-side in
whole-stage codegen.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import extract_text_links, pd_extract_text, pd_preprocess_text
from .urls import canonicalize_url, pd_canonicalize


@F.pandas_udf(T.StringType())
def udf_extract_text(html: pd.Series) -> pd.Series:
    """HTML(binary) → normalized text; byte-identical to the simulator."""
    return pd_extract_text(html)


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("text", T.StringType()),
            T.StructField("links", T.ArrayType(T.StringType())),
        ]
    )
)
def udf_extract_text_links(html: pd.Series) -> pd.DataFrame:
    """HTML(binary) → (text, links) in ONE Arrow crossing.

    The html bytes dominate the Python↔JVM transfer; fusing both extractors
    halves that traffic versus calling a text extractor and a links
    extractor separately on the same column — and the fused scalar decodes each page
    once for both outputs (the decode is a full page copy).
    """
    out = html.map(extract_text_links, na_action="ignore")
    return pd.DataFrame(
        {"text": out.str[0], "links": out.str[1]}, index=html.index
    )


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("text", T.StringType()),
            T.StructField("links", T.ArrayType(T.StringType())),
        ]
    )
)
def udf_extract_text_canon_links(html: pd.Series, base: pd.Series) -> pd.DataFrame:
    """HTML(binary) + base URL → (text, CANONICAL out-links) in ONE crossing.

    The crawl round's fetch stage uses this instead of extract-then-
    canonicalize-in-a-second-UDF: the href strings never recross the Arrow
    boundary, link canonicalization runs inside the (parallel, overlapped)
    fetch stage instead of as its own job on the round's serial path, and
    the expand stage downstream becomes pure JVM (explode + hash-agg).
    Per-page the canonical links are deduplicated first-seen (all links of
    a page share one child priority, so the global per-url max over pages
    is unchanged) and non-http(s)/malformed hrefs drop out as
    ``canonicalize_url`` → None — byte-identical link semantics to the
    simulator's extract_links → canonicalize_url(href, base=u) loop.
    """
    texts, links = [], []
    for h, b in zip(html, base):
        if h is None:
            texts.append(None)
            links.append(None)
            continue
        text, hrefs = extract_text_links(h)
        out: list[str] = []
        seen: set[str] = set()
        for href in hrefs:
            # absolute hrefs skip the urljoin resolve (semantics-preserving —
            # same fast path as pd_canonicalize, asserted in tests/test_urls.py)
            cu = (
                canonicalize_url(href)
                if href.startswith(("http://", "https://"))
                else canonicalize_url(href, b)
            )
            if cu is not None and cu not in seen:
                seen.add(cu)
                out.append(cu)
        texts.append(text)
        links.append(out)
    return pd.DataFrame({"text": texts, "links": links}, index=html.index)


@F.pandas_udf(T.StringType())
def udf_canonicalize(url: pd.Series) -> pd.Series:
    """Absolute URL → canonical form (None for non-http(s))."""
    return pd_canonicalize(url)


@F.pandas_udf(T.StringType())
def udf_preprocess_text(text: pd.Series) -> pd.Series:
    """The reference's single-pass whitespace chain (PreprocessDump.py:84-86)."""
    return pd_preprocess_text(text)
