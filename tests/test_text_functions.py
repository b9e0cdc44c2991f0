"""Golden cases pinning the reference semantics of the text scalars
(PreprocessDump.py:84-89, Stance_Detection.py:72), and parity of the fetch
stage's extract crossing with the simulator's scalar loop."""

import pytest

from twittercrawler_spark.functions.text import (
    extract_links,
    extract_text,
    preprocess_text,
    remove_new_lines,
    rt_handle,
)
from twittercrawler_spark.functions.udfs import udf_extract_text_canon_links
from twittercrawler_spark.functions.urls import canonicalize_url

GOLDEN = [
    # single-pass double-space: NOT a fixpoint (reference contract)
    ("a   b", "a  b"),
    ("a  b", "a b"),
    ("  lead and trail  ", "lead and trail"),
    # \r and \t become two spaces, then the single double-space pass merges
    ("line1\nline2\r\tend", "line1 line2 end"),
    ("tab\there", "tab here"),
    ("", ""),
    ("\n\n", ""),  # "\n\n"→"  "→" "→strip→""
]


@pytest.mark.parametrize("raw,expected", GOLDEN)
def test_preprocess_text_golden(raw, expected):
    assert preprocess_text(raw) == expected


def test_remove_new_lines_stringifies():
    assert remove_new_lines(None) == "None"
    assert remove_new_lines("a\nb") == "a b"
    assert remove_new_lines(5) == "5"


HTML_CASES = [
    b"<html><head><title>T</title><script>var x=1;\nif(x<2){}</script></head>"
    b"<body><p>hello\nworld</p><a href='http://A.com/x'>l</a></body></html>",
    b"<body>a &amp;lt; b &lt;tag&gt; &quot;q&quot; &#39;s&#39;</body>",
    b"<style>p { color: red }</style><p>only   text\t\tremains</p>",
    b"no tags at all",
    b"<a href=\"/rel/path\">r</a><a href='http://b.co:80/p?b=1&a=2#f'>x</a>",
]


def test_extract_text_golden():
    assert extract_text(HTML_CASES[0]) == "T hello world l"
    # &amp;lt; decodes ONE level (amp last): "&lt;"
    assert extract_text(HTML_CASES[1]) == 'a &lt; b <tag> "q" \'s\''
    assert extract_text(HTML_CASES[2]) == "only text remains"


def test_extract_links_golden():
    assert extract_links(HTML_CASES[0]) == ["http://A.com/x"]
    assert extract_links(HTML_CASES[4]) == ["/rel/path", "http://b.co:80/p?b=1&a=2#f"]


def test_extract_text_canon_links_matches_simulator_loop():
    """The fused fetch-stage UDF interior must equal the simulator's
    extract_links → canonicalize_url(href, base=u) → per-page max-dedup
    loop: same text bytes, same canonical link SET in first-seen order
    (all links of a page share one child priority, so first-seen dedup
    preserves the global per-url max)."""
    import pandas as pd

    fused = udf_extract_text_canon_links.func
    bases = [f"http://base{i}.example.com/dir/page" for i in range(len(HTML_CASES))]
    out = fused(pd.Series(HTML_CASES), pd.Series(bases))
    for raw, base, text, links in zip(HTML_CASES, bases, out["text"], out["links"]):
        assert text == extract_text(
            raw.decode("utf-8", "replace") if isinstance(raw, bytes) else raw
        )
        assert list(links) == _simulator_links(raw, base)
    # None html (a miss row reaching the UDF) stays None, not a crash
    out2 = fused(pd.Series([None, HTML_CASES[4]]), pd.Series([None, bases[4]]))
    assert out2["text"][0] is None and out2["links"][0] is None
    assert list(out2["links"][1]) == [
        canonicalize_url("/rel/path", bases[4]),
        canonicalize_url("http://b.co:80/p?b=1&a=2#f"),
    ]


def _simulator_links(html: bytes, base: str) -> list[str]:
    """The simulator's per-page link loop: extract_links ->
    canonicalize_url(href, base=u) -> first-seen dedup."""
    out: list[str] = []
    for href in extract_links(html):
        cu = canonicalize_url(href, base=base)
        if cu is not None and cu not in out:
            out.append(cu)
    return out


def test_extract_crossing_resolves_empty_authority_hrefs(spark):
    """An absolute href with an empty authority ("http:///p") is resolved
    against the page url by the simulator; the production crossing must
    resolve it the same way, not drop it as host-less."""
    hrefs = ["http://", "http:///p", "http://?q=1", "http:////h/p", "https://#f",
             "https://ok.example.com/a", "/rel", "ftp://x/y"]
    html = "".join(f"<a href='{h}'>l</a>" for h in hrefs).encode()
    bases = ["http://h1.example.com/dir/page?x=1", "https://h2.example.com/d/p"]
    df = spark.createDataFrame([(u, html) for u in bases], "url string, html binary")
    got = {
        r["url"]: list(r["ex"]["links"])
        for r in df.select("url", udf_extract_text_canon_links("html", "url").alias("ex"))
        .collect()
    }
    assert got == {u: _simulator_links(html, u) for u in bases}
    # the same-scheme empty-authority hrefs resolve, so none of this is vacuous
    assert "http://h1.example.com/p" in got[bases[0]]
    assert "https://h2.example.com/d/p" in got[bases[1]]


def test_rt_handle_reference_semantics():
    assert rt_handle("RT @alice: hello") == "alice"
    assert rt_handle("no handle here") is None
    assert rt_handle("x @bob: y @carol: z") == "bob"


def test_word_shingles_cross_engine_nasty_texts(spark):
    """The shingle layer (word_shingles vs SHINGLES_SQL) must agree on
    hostile inputs: repeated/mixed whitespace, leading/trailing space,
    short texts (whole-text fallback), unicode letters, NBSP (NOT a
    separator in either engine's ASCII \\s), punctuation glued to words."""
    import duckdb

    from twittercrawler_spark.analytics import _util
    from twittercrawler_spark.analytics._util import word_shingles

    texts = [
        "a b c d",
        "a  b\tc\nd",          # runs of mixed whitespace
        "  leading and trailing  ",
        "one two",              # 2 tokens -> whole-text fallback
        "one",                  # 1 token -> fallback
        "",                     # empty -> no features
        "   ",                  # whitespace-only -> no features
        "Upper CASE Text here",
        "héllo wörld détte quatre",
        "nb sp is one token here",  # NBSP not a separator
        "a, b. c! d?",
        "中文 字 测试 吗",
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    import pyspark.sql.functions as F

    got = {
        (r["doc_id"], r["s"])
        for r in df.select(
            "doc_id", F.explode(word_shingles(F.col("text"))).alias("s")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = set(map(tuple, con.execute(_util.SHINGLES_SQL).fetchall()))
    assert got == want
    # fallback sanity: short nonempty docs have exactly one feature
    assert ("one two" in texts) and sum(1 for d, _ in got if d == 3) == 1
    assert sum(1 for d, _ in got if d == 4) == 1
    assert sum(1 for d, _ in got if d in (5, 6)) == 0


def test_pii_scrub_redacts_injected_pii(spark, tmp_path):
    """Crafted rows with known PII come back redacted with exact counts."""
    from twittercrawler_spark.analytics.textstats import pii_scrub

    rows = [
        (1, "mail bob.smith+x@ex-ample.co.uk end"),
        (2, "server at 10.0.0.255 and 192.168.1.1 up"),
        (3, "call 555-123-4567 or 555 1234 9999 now"),
        (4, "clean text with version 1.2 and year 2024"),
        (5, "a@b.io logged from 8.8.8.8 phone 123-456-7890"),
    ]
    d = tmp_path / "pii"
    spark.createDataFrame(
        [(i, s, "en", "web", len(s)) for i, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(d / "documents.parquet"))
    out = {
        r["doc_id"]: r
        for r in pii_scrub(spark, str(d)).collect()
    }
    assert out[1]["clean_text"] == "mail <EMAIL> end" and out[1]["n_email"] == 1
    assert out[2]["clean_text"] == "server at <IP> and <IP> up" and out[2]["n_ip"] == 2
    assert out[3]["clean_text"] == "call <PHONE> or <PHONE> now" and out[3]["n_phone"] == 2
    # version/date numbers must NOT be redacted
    assert out[4]["clean_text"] == rows[3][1]
    assert (out[4]["n_email"], out[4]["n_ip"], out[4]["n_phone"]) == (0, 0, 0)
    # mixed row: all three kinds redacted, counted on the original text
    assert out[5]["clean_text"] == "<EMAIL> logged from <IP> phone <PHONE>"
    assert (out[5]["n_email"], out[5]["n_ip"], out[5]["n_phone"]) == (1, 1, 1)
