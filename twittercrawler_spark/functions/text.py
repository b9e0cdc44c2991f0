"""Text normalization, HTML→text extraction, and link extraction.

Pure-Python scalars, one per contract, used both by the corpus generator
and the reference simulator (the parity oracle) and inside the crawl's one
extract crossing: ``udf_extract_text_canon_links`` (functions/udfs.py) runs
``extract_text_links`` on each page of an Arrow batch. The crossing maps the
scalar per row instead of chaining vectorized ``.str`` ops: a chain
materialized ~12 intermediate object Series of page-sized strings per batch,
and that allocation churn (glibc returning freed pages and re-faulting
them) is kernel-side work that serializes at 32 concurrent workers —
measured as the dominant sys-time source in the 8→32 scaling step.

Parity contracts (reference semantics, cited into /root/reference):

``preprocess_text``
    The reference normalizes tweet text with a SINGLE-PASS chain of
    ``str.replace`` calls followed by ``strip()``
    (pages/Preprocess_scripts/PreprocessDump.py:84-86; UI twin
    pages/Preprocess.py:124-126). Crucially the double-space replace runs
    once left-to-right, NOT to a fixpoint: ``"a   b"`` → ``"a  b"``. A
    ``regexp_replace`` loop would differ, so it uses literal (non-regex)
    replaces.

``rt_handle``
    The reference extracts the retweeted handle as the substring between the
    first ``@`` and the following ``:``
    (pages/Postprocess_scripts/Stance_Detection.py:72;
    pages/Postprocess_scripts/Functions.py:186-188). Rows without the
    pattern yield None (the reference raises and skips).

``extract_text`` / ``extract_links``
    The crawl-graft analogs of the reference's per-row text normalization
    and RT-handle (link) extraction: strip <script>/<style> blocks, replace
    tags with a space, unescape the five common entities (documented fixed
    order: &lt; &gt; &quot; &#39; then &amp; LAST), then apply the
    ``preprocess_text`` whitespace chain. Byte-identical extracted text per
    URL is the engine↔reference contract (BASELINE.json input_hint).
"""

from __future__ import annotations

import re


# --- whitespace normalization (single-pass, NOT fixpoint) -------------------

def preprocess_text(t: str) -> str:
    """Reference whitespace chain (PreprocessDump.py:84-86), single pass."""
    return (
        t.replace("\n", " ")
        .replace("\r", " ")
        .replace("\t", " ")
        .replace("  ", " ")
        .strip()
    )


def remove_new_lines(x) -> str:
    """Reference ``remove_new_lines`` (PreprocessDump.py:88-89): stringify
    then replace newlines — missing values become the string ``"None"``."""
    return str(x).replace("\n", " ")


# --- HTML → text -------------------------------------------------------------

_SCRIPT_RE = re.compile(r"(?is)<script\b.*?</script>")
_STYLE_RE = re.compile(r"(?is)<style\b.*?</style>")
_TAG_RE = re.compile(r"(?s)<[^>]*>")
# Fixed entity table, fixed order; &amp; is decoded LAST so that double-escaped
# sequences like "&amp;lt;" decode to "&lt;" (one level).
_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]

# One-scan form of the sequential _ENTITIES replaces. Equivalent because the
# five patterns are mutually exclusive at any position (shared prefix "&",
# distinct next char) and no replacement output can complete a later pattern
# within the same pass — the only "&" a replacement emits comes from &amp;,
# which the sequential order also decodes exactly one level. Fuzzed for
# byte-identity against the sequential chain (200k adversarial strings).
_ENT_RE = re.compile(r"&(?:lt|gt|quot|#39|amp);")
_ENT_MAP = {"&lt;": "<", "&gt;": ">", "&quot;": '"', "&#39;": "'", "&amp;": "&"}


# Fixpoint collapse of 2+-space runs to one space. "  +" (NOT " {2,}"): the
# two-literal-space prefix lets sre skip between candidates with a C-level
# find, while " {2,}" stops to attempt a match at EVERY single space — i.e.
# at every word boundary of the page. Measured on the bench corpus: 24 vs
# 62 us/page, and one pass also beats the old multi-pass str.replace
# schedule (each pass re-copied the whole page; ~63 us). Identical fixpoint
# by construction — runs never merge across non-space chars.
_SP_RUN_RE = re.compile("  +")


def _collapse_spaces(t: str) -> str:
    return _SP_RUN_RE.sub(" ", t)


def extract_text(html: bytes | str) -> str:
    """HTML→text with the reference whitespace contract.

    Per-pass costs profiled at ~26 KB/page (BENCH/STAGES.md): the entity and
    space-collapse passes dominated the original chain, so entities decode in
    one gated scan and the collapse runs as C str.replace passes — both
    byte-identical to the sequential spec (fuzz + full-corpus verified)."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    t = _SCRIPT_RE.sub(" ", html)
    t = _STYLE_RE.sub(" ", t)
    t = _TAG_RE.sub(" ", t)
    if "&" in t:
        t = _ENT_RE.sub(lambda m: _ENT_MAP[m.group()], t)
    # collapse runs of 2+ spaces created by tag removal (fixpoint here, by
    # design — this happens BEFORE the single-pass reference chain so the
    # contract on the reference chain itself is preserved)
    t = _collapse_spaces(t)
    return preprocess_text(t)


# --- link extraction ---------------------------------------------------------

_HREF_RE = re.compile(r"""(?is)<a\s[^>]*?href\s*=\s*["']([^"'<>\s]+)["']""")


def extract_links(html: bytes | str) -> list[str]:
    """All href targets in document order (crawl analog of the reference's
    RT-handle extraction, Stance_Detection.py:72)."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    return _HREF_RE.findall(html)


def extract_text_links(html: bytes | str) -> tuple[str, list[str]]:
    """(text, links) from ONE decode of the html bytes — the decode is a
    full copy of the page, so sharing it between the two extractors matters
    at fetch scale; udf_extract_text_canon_links crosses Arrow once with
    this."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    return extract_text(html), _HREF_RE.findall(html)


# --- reference RT-handle (kept for operator parity tests) --------------------

def rt_handle(text: str) -> str | None:
    """Substring between first '@' and next ':' (Stance_Detection.py:72)."""
    try:
        return text.split("@")[1].split(":")[0]
    except IndexError:
        return None
