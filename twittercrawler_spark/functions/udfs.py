"""Arrow-batched pandas UDFs over the parity scalars in text.py / urls.py.

These two are the ONLY Python↔JVM crossings in the crawl pipeline (input_hint:
"vectorized pandas/Arrow UDFs, no per-row Python"). Everything else —
filtering, joins, windows, hashing, bucketing — stays JVM-side in
whole-stage codegen.

Each crossing evaluates once per row. A filter on a UDF's output column
(``.withColumn("url", udf(...)).filter(F.col("url").isNotNull())``) is
pushed below the projection with the UDF inlined into it, which plans the
UDF twice — two ``ArrowEvalPython`` nodes, every row crossing twice and two
Python workers per task. Call a UDF whose output is filtered through
``.asNondeterministic()`` (a pushdown barrier; frontier/crawl.py
``_canonical_urls``) and pin the plan's ``ArrowEvalPython`` count in
tests/test_plans.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import extract_text_links
from .urls import canonicalize_url, pd_canonicalize


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
            # canonicalize_url takes its regex fast path for a host-bearing
            # absolute href before any urljoin; an empty-authority one
            # ("http:///p", "https://#f") needs the base, as in the simulator
            cu = canonicalize_url(href, b)
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
