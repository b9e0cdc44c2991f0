"""URL canonicalization, host extraction, and the 60-bit URL hash.

Canonicalization spec (fixed, documented — the engine↔simulator contract):

1. resolve relative references against the base URL (``urllib.parse.urljoin``)
2. lowercase scheme and host
3. drop default ports (``:80`` for http, ``:443`` for https)
4. drop the fragment
5. sort query parameters by (key, value), preserving duplicates; drop a
   trailing ``?`` when the query is empty
6. empty path → ``/``
7. percent-encoding is NOT normalized (out of scope, documented)

``url_hash64`` is ``int(md5(canonical_url)[:15 hex], 16)`` — a 60-bit
deterministic hash computable identically in pure Python (hashlib), in Spark
SQL (``conv(substring(md5(url), 1, 15), 16, 10)``), and in DuckDB — used for
partitioning/bucketing and ordering tie-breaks ONLY. Seen-set EXACTNESS is
always decided on the canonical URL string itself (hash collisions can never
corrupt membership; they only cost an extra tie-break on the url column).

The reference has no URL layer; this replaces its Redis/list seen-set keying
(pages/Postprocess_scripts/Cansin_Location_Detection.py:45,107-109 and
pages/Preprocess_scripts/GenerateUserUseridDict.py:53) per the north rule.
"""

from __future__ import annotations

import hashlib
import re
from urllib.parse import urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

_DEFAULT_PORTS = {"http": "80", "https": "443"}


# Fast path for the overwhelmingly common URL shape: scheme://host[:port]
# [/path][?query][#frag] with a plain reg-name host (letters/digits/dots/
# hyphens — no userinfo, no IPv6 literal, no percent-escapes in the host).
# Handles the common NON-canonical spellings inline (uppercase scheme/host,
# default port, unsorted query, fragment); anything outside the shape falls
# back to the urlsplit-based general parser. Byte-equivalence fuzzed against
# the general parser over 350k adversarial URL-shaped strings (ports 0/65535/
# out-of-range/zero-padded, empty queries, duplicate keys, junk) plus the
# full bench corpus — measured 5.5 -> 1.7 us/url, and canonicalization is
# the expand stage's dominant Python cost at scale-corpus link volumes.
_FAST_URL_RE = re.compile(
    r"([A-Za-z][A-Za-z0-9+.-]*)://([A-Za-z0-9.-]+)(?::(\d{1,5}))?"
    r"(/[^?#]*)?(?:\?([^#]*))?(?:#.*)?\Z",
    re.DOTALL,
)


def canonicalize_url(url: str, base: str | None = None) -> str | None:
    """Canonical form per the module spec; None for non-http(s)/unparseable."""
    if base is None or url.startswith(("http://", "https://")):
        m = _FAST_URL_RE.match(url)
        if m is not None:
            scheme, host, port, path, query = m.groups()
            scheme = scheme.lower()
            if scheme not in ("http", "https"):
                return None
            netloc = host.lower()
            if port is not None:
                p = int(port)
                if p > 65535:  # urlsplit rejects these — keep that behavior
                    return _canonicalize_url_general(url, base)
                if str(p) != _DEFAULT_PORTS[scheme]:
                    netloc = f"{netloc}:{p}"
            path = path or "/"
            if query:
                pairs = sorted(q.partition("=") for q in query.split("&"))
                query = "&".join(k + sep + v for k, sep, v in pairs)
                return f"{scheme}://{netloc}{path}?{query}"
            return f"{scheme}://{netloc}{path}"
    return _canonicalize_url_general(url, base)


def _canonicalize_url_general(url: str, base: str | None = None) -> str | None:
    """General-shape parser (urlsplit): userinfo, IPv6 hosts, odd ports,
    relative references — the fast path's fallback and its fuzz oracle."""
    try:
        if base:
            url = urljoin(base, url)
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    host = parts.hostname
    if not host:
        return None
    host = host.lower()
    netloc = host
    try:
        port = parts.port
    except ValueError:
        return None
    if port is not None and str(port) != _DEFAULT_PORTS[scheme]:
        netloc = f"{host}:{port}"
    path = parts.path or "/"
    query = parts.query
    if query:
        pairs = sorted(p.partition("=") for p in query.split("&"))
        query = "&".join(k + sep + v for k, sep, v in pairs)
    return urlunsplit((scheme, netloc, path, query, ""))


def host_of(canonical_url: str) -> str:
    """netloc (host[:port]) of an already-canonical URL."""
    return urlsplit(canonical_url).netloc


def url_hash64(canonical_url: str) -> int:
    """60-bit int from the first 15 hex chars of md5 — pure-Python twin."""
    return int(hashlib.md5(canonical_url.encode("utf-8")).hexdigest()[:15], 16)


# --- vectorized (pandas UDF interior) twin ------------------------------------

def pd_canonicalize(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: canonicalize_url(u) if isinstance(u, str) else None)


# --- JVM-side (Catalyst, codegen'd) equivalents -------------------------------

def spark_url_hash64(col: Column | str) -> Column:
    """JVM-side twin of :func:`url_hash64` — stays in whole-stage codegen."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def spark_host_bucket(
    host: Column | str,
    url_hash: Column | str,
    num_buckets: int,
    salt_sub_buckets: int,
) -> Column:
    """Salted-HOST partitioning key (SURVEY §4.3; the north rule's hot-domain
    skew control): ``pmod(hash(host) + pmod(url_hash, S), NB)``.

    One host's rows land in at most S buckets — co-located enough that
    per-host politeness windows and seen probes shuffle to a handful of
    partitions, spread enough that a 50%-hot host cannot pin a single
    bucket. S is the same knob as the scheduler's two-phase top-k salt.
    The host hash reuses the md5-derived :func:`url_hash64` so the key has
    an exact pure-Python/DuckDB twin (:func:`host_bucket_of`).
    """
    uh = F.col(url_hash) if isinstance(url_hash, str) else url_hash
    return F.pmod(
        spark_url_hash64(host) + F.pmod(uh, F.lit(salt_sub_buckets)),
        F.lit(num_buckets),
    ).cast("int")


def host_bucket_of(
    host: str, url_hash: int, num_buckets: int, salt_sub_buckets: int
) -> int:
    """Pure-Python twin of :func:`spark_host_bucket` (parity-tested)."""
    return (url_hash64(host) + url_hash % salt_sub_buckets) % num_buckets
