"""HTML boilerplate strip: tokenizer, block classification, and the
Spark operator end to end (including mixed PDF+HTML corpus routing)."""

from __future__ import annotations

from delphi_pdf_parser_spark.htmlcore import extract_main_content

PAGE = b"""<!DOCTYPE html>
<html><head><title>The &quot;Test&quot; Page &mdash; news</title>
<style>body { color: red; } /* <p>not text</p> */</style>
<script>var x = "<div>nope</div>";</script>
</head><body>
<header><h1>SiteName</h1><p>tagline boilerplate here</p></header>
<nav><ul><li><a href="/">Home</a></li><li><a href="/a">Section A</a></li>
<li><a href="/b">Section B</a></li></ul></nav>
<div id="content">
<h2>Article headline</h2>
<p>This is the first paragraph of the actual article body. It is long
enough to be classified as main content by any sensible threshold, and
it contains an <a href="x">inline link</a> that should not disqualify
it because the link density stays low.</p>
<p>Second paragraph of real content with enough characters to pass the
minimum content length threshold easily. Entities like &amp; and
&#65; and &#x42; decode properly.</p>
</div>
<aside><p>Related: <a href="1">One</a> <a href="2">Two</a></p></aside>
<div class="share"><a href="fb">Share</a> <a href="tw">Tweet</a></div>
<footer><p>&copy; 2024 SiteName. <a href="/privacy">Privacy</a></p></footer>
</body></html>"""


def test_main_content_classification():
    r = extract_main_content(PAGE)
    assert r["title"] == 'The "Test" Page — news'
    # both real paragraphs present, in order
    assert "first paragraph of the actual article" in r["text"]
    assert "Second paragraph of real content" in r["text"]
    i1 = r["text"].index("first paragraph")
    i2 = r["text"].index("Second paragraph")
    assert i1 < i2
    # the headline survives (adjacent to content)
    assert "Article headline" in r["text"]
    # boilerplate is gone
    for junk in ("Home", "Section A", "tagline", "Share", "Tweet",
                 "Privacy", "Related"):
        assert junk not in r["text"], junk
    # script/style payloads never leak
    assert "nope" not in r["text"] and "color: red" not in r["text"]
    # entity decoding
    assert "& and A and B decode" in r["text"]
    assert r["n_content_blocks"] >= 2


def test_tolerant_parsing():
    # unclosed tags, stray '<', attributes with '>' inside quotes
    r = extract_main_content(
        b"<body><p>A paragraph that is long enough to count as content "
        b"for the extractor threshold settings used here, 1 < 2 indeed."
        b'<div data-x="a>b">another long-enough block of body text that '
        b"also reads like real sentence content for the page.</div>"
    )
    assert "1 < 2 indeed" in r["text"]
    assert "another long-enough block" in r["text"]
    # empty / junk input does not raise
    assert extract_main_content(b"")["text"] == ""
    assert extract_main_content(b"\xff\xfe\x00garbage")["n_blocks"] >= 0


def test_str_page_reads_as_its_utf8_bytes():
    from delphi_pdf_parser_spark.operators.htmltext import _html_rows

    page = PAGE.decode() + "<p>caf\u00e9 \u2014 na\u00efve text</p>"
    got = _html_rows("u", page)
    assert got == _html_rows("u", page.encode())
    assert got[0][-1] == "ok"


def test_spark_html_extraction(spark):
    """Mixed corpus: html rows route to the html extractor, PDFs are
    prefiltered out (and vice versa for the PDF path)."""
    import datetime

    from delphi_pdf_parser_spark.fixtures import bench_pdf
    from delphi_pdf_parser_spark.operators.extraction import (
        extract_documents,
    )
    from delphi_pdf_parser_spark.operators.htmltext import (
        extract_html_documents,
    )
    from delphi_pdf_parser_spark.sources.documents import DOCUMENTS_SCHEMA

    epoch = datetime.datetime(2024, 1, 1)
    rows = [
        ("web://html/0", epoch, bytearray(PAGE), None, "en"),
        ("web://pdf/1", epoch, bytearray(bench_pdf(seed=9, npages=1)), None, "en"),
        ("web://junk/2", epoch, bytearray(b"\x00\x01binary junk"), None, None),
    ]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    hout = {r["url"]: r for r in extract_html_documents(docs).collect()}
    assert list(hout) == ["web://html/0"]
    assert hout["web://html/0"]["status"] == "ok"
    assert "first paragraph of the actual article" in hout["web://html/0"]["text"]
    assert hout["web://html/0"]["title"].startswith('The "Test" Page')
    pout = {r["url"] for r in extract_documents(docs, salt_partitions=2).collect()}
    assert pout == {"web://pdf/1"}
