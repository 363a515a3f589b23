"""The one HTML tag scanner (``htmlcore.scan_tags``) and the parsers on it.

The reference tokenizer below is the ``_segment`` loop and tag regex that
main-content extraction and markdown used before the scanner; the frozen
parsers are the regex versions of links, metadata, headings, tables,
JSON-LD and sitemaps that the scanner replaced. They pin that the scanner
reads exactly the old tags but for divergence (f), and that the field
parsers change rows only in the divergence classes (a)-(e); each class is
pinned by one input at the end.
"""

from __future__ import annotations

import re
from urllib.parse import urldefrag, urljoin

from hypothesis import given, settings
from hypothesis import strategies as st

from delphi_pdf_parser_spark import htmlcore
from delphi_pdf_parser_spark.htmlcore import (
    pair_elements,
    parse_attrs,
    scan_tags,
)
from delphi_pdf_parser_spark.operators import htmlmarkdown
from delphi_pdf_parser_spark.operators.graphs import _page_links
from delphi_pdf_parser_spark.operators.htmlmeta import (
    _page_headings,
    _page_jsonld,
    _page_meta,
)
from delphi_pdf_parser_spark.operators.htmltables import _page_tables
from delphi_pdf_parser_spark.operators.robots import _parse_sitemap

# --- reference tokenizer ---------------------------------------------------

_OLD_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9:-]*)((?:[^>'\"]|\"[^\"]*\"|'[^']*')*)(/?)>",
    re.S,
)


def _reference_tokens(html: str, rawtext: frozenset):
    """The old ``_segment`` loop, yielding the text runs and tags it read."""
    raw_until = None
    pos, n = 0, len(html)
    while pos < n:
        lt = html.find("<", pos)
        if lt < 0:
            lt = n
        if lt > pos:
            if raw_until is None:
                yield (pos, lt, False, None, None)
            pos = lt
            continue
        if html.startswith("<!--", pos):
            end = html.find("-->", pos + 4)
            pos = (end + 3) if end >= 0 else n
            continue
        if html.startswith("<![CDATA[", pos):
            end = html.find("]]>", pos + 9)
            pos = (end + 3) if end >= 0 else n
            continue
        if html.startswith("<!", pos) or html.startswith("<?", pos):
            end = html.find(">", pos)
            pos = (end + 1) if end >= 0 else n
            continue
        m = _OLD_TAG_RE.match(html, pos)
        if m is None:
            if raw_until is None:
                yield (pos, pos + 1, False, None, None)
            pos += 1
            continue
        closing, name, attrs, selfclose = m.groups()
        assert selfclose == ""  # the greedy attribute group takes the '/'
        name = name.lower()
        pos = m.end()
        tok = (m.start(), m.end(), bool(closing), name, attrs)
        if raw_until is not None:
            if closing and name == raw_until:
                raw_until = None
                yield tok
            continue
        # divergence (f): a self-closed <svg .../> opens no raw text
        if not closing and name in rawtext and not (
            name == "svg" and attrs.endswith("/")
        ):
            raw_until = name
        yield tok


_FRAGMENTS = [
    b"<a href='", b"<a href=\"", b"<a ", b"</a>", b"<base href=x>",
    b"<table>", b"</table>", b"<tr>", b"<td>", b"<th colspan='2'>",
    b"<td colspan=zz>", b"<meta name=robots content=noindex>",
    b"<link rel=canonical href='/c'>", b"<title>t</title>", b"<title>",
    b"<script type='application/ld+json'>{", b"</script>", b"<script>",
    b"<style>", b"</style x>", b"<svg/>", b"<noscript>", b"<template>",
    b"</TEMPLATE>", b"<!-- c -->", b"<!--", b"-->", b"<![CDATA[x]]>",
    b"<!x>", b"<?p?>", b"<h1>", b"</h1 >", b"<br/>", b"<p a=\"<\">",
    b"javascript:x", b"#frag", b"http://x/", b"%%", b"\xff\xfe", b"\xc3\xa9",
    b"text &amp; more ", b"'>", b'">', b"<", b">", b"'", b'"', b" ", b"\n",
    b"< b >", b"</3>", b"<a:b-c x=1>",
]
_HTMLISH = st.binary(max_size=2048) | st.builds(
    b"".join, st.lists(st.sampled_from(_FRAGMENTS), max_size=40)
)
_RAWTEXTS = [
    htmlcore._RAWTEXT,
    htmlmarkdown._RAWTEXT,
    htmlcore._FIELD_RAWTEXT,
]


@given(_HTMLISH, st.sampled_from(_RAWTEXTS))
@settings(max_examples=300, deadline=None)
def test_scanner_matches_reference_tokenizer(raw, rawtext):
    s = raw.decode("latin-1")
    assert list(scan_tags(s, rawtext)) == list(_reference_tokens(s, rawtext))


@given(st.text(max_size=300), st.sampled_from(_RAWTEXTS))
@settings(max_examples=200, deadline=None)
def test_scanner_matches_reference_tokenizer_on_text(s, rawtext):
    assert list(scan_tags(s, rawtext)) == list(_reference_tokens(s, rawtext))


def test_scanner_walks_past_quoted_angles_and_skips():
    s = "a<p title='x>y' id=\"<\">b<!-- <i> --><script>'<b>'</script>c"
    got = [
        (s[t[0] : t[1]], t[2], t[3], t[4])
        for t in scan_tags(s, frozenset(["script"]))
    ]
    assert got == [
        ("a", False, None, None),
        ("<p title='x>y' id=\"<\">", False, "p", " title='x>y' id=\"<\""),
        ("b", False, None, None),
        ("<script>", False, "script", ""),
        ("</script>", True, "script", ""),
        ("c", False, None, None),
    ]


def test_scanner_unterminated_quote_is_stray_text():
    s = "<a href='x>y<b>"
    got = [(s[t[0] : t[1]], t[3]) for t in scan_tags(s, frozenset())]
    assert got == [("<", None), ("a href='x>y", None), ("<b>", "b")]


def test_pair_elements_keeps_the_lazy_regex_rule():
    s = "<h1>a<h2>b</h1>c</h2><h1>x<h3>y</h3>"
    tags = list(scan_tags(s, frozenset()))
    pairs = [
        (tags[i][3], s[tags[i][1] : tags[j][0]])
        for i, j in pair_elements(tags, lambda t: t[3][0] == "h")
    ]
    # the first </h1> closes past <h2>; the scan resumes after it, so the
    # stray </h2> closes nothing; the last <h1> has no close, <h3> pairs
    assert pairs == [("h1", "a<h2>b"), ("h3", "y")]


_OLD_ATTR_RE = re.compile(
    r"""([a-zA-Z][a-zA-Z0-9:-]*)\s*=\s*("[^"]*"|'[^']*'|[^\s>]*)"""
)


@given(
    st.lists(
        st.sampled_from(list("aB1:-= \t'\">/xé_9\xa0")), max_size=30
    ).map("".join)
)
@settings(max_examples=300, deadline=None)
def test_parse_attrs_is_the_markdown_grammar(raw):
    want = {}
    for m in _OLD_ATTR_RE.finditer(raw):
        v = m.group(2)
        want[m.group(1).lower()] = v[1:-1] if v[:1] in "\"'" else v
    assert parse_attrs(raw) == want


# --- frozen regex parsers ----------------------------------------------------

_INERT_RE = re.compile(
    rb"<!--.*?(?:-->|$)"
    rb"|<!\[CDATA\[.*?(?:\]\]>|$)"
    rb"|<(script|style|template)(?=[\s/>])[^>]*>.*?(?:</\1\s*>|$)",
    re.I | re.S,
)
_BYTE_ATTR_RE = re.compile(
    rb"""([a-zA-Z-]+)\s*=\s*("([^"]*)"|'([^']*)'|([^\s"'>]+))"""
)
_ANY_TAG_RE = re.compile(rb"<[^>]*>")
_SPACES = re.compile(r"\s+")


def _old_attrs(tag: bytes) -> dict:
    out = {}
    for m in _BYTE_ATTR_RE.finditer(tag):
        val = m.group(3)
        if val is None:
            val = m.group(4)
        if val is None:
            val = m.group(5)
        out[m.group(1).lower()] = val
    return out


def _old_inner(raw: bytes) -> str:
    text = _ANY_TAG_RE.sub(b" ", raw).decode("utf-8", "replace")
    return _SPACES.sub(" ", htmlcore._decode_entities(text)).strip()


def _old_links(url, html):
    html = _INERT_RE.sub(b" ", html)
    base = url
    bm = re.search(rb"<base\s[^>]*>", html, re.I)
    if bm is not None:
        bhref = _old_attrs(bm.group(0)).get(b"href")
        if bhref:
            try:
                base = urljoin(url, bhref.decode("utf-8", "replace"))
            except ValueError:
                base = url
    rows = []
    for m in re.finditer(rb"<a\s([^>]*)>(.*?)</a\s*>", html, re.I | re.S):
        attrs = _old_attrs(m.group(1))
        href = attrs.get(b"href")
        if not href:
            continue
        href_s = htmlcore._decode_entities(href.decode("utf-8", "replace")).strip()
        if not href_s or href_s.startswith("#"):
            continue
        if href_s.lower().startswith(
            ("javascript:", "mailto:", "tel:", "data:", "about:")
        ):
            continue
        try:
            dst = urldefrag(urljoin(base, href_s))[0]
        except ValueError:
            continue
        if not dst.lower().startswith(("http://", "https://")):
            continue
        nofollow = b"nofollow" in attrs.get(b"rel", b"").lower().split()
        rows.append((url, dst, _old_inner(m.group(2)), nofollow))
    return rows


def _old_text(raw):
    if raw is None:
        return None
    s = htmlcore._decode_entities(raw.decode("utf-8", "replace"))
    return _SPACES.sub(" ", s).strip() or None


def _old_meta(url, html):
    html = _INERT_RE.sub(b" ", html)
    tm = re.search(rb"<title[^>]*>(.*?)</title\s*>", html, re.I | re.S)
    title = _old_text(tm.group(1)) if tm is not None else None
    description = og_title = og_image = published = None
    noindex = False
    for m in re.finditer(rb"<meta\s[^>]*>", html, re.I):
        attrs = _old_attrs(m.group(0))
        key = (attrs.get(b"name") or attrs.get(b"property") or b"").lower()
        content = attrs.get(b"content")
        if content is None:
            continue
        if key == b"description" and description is None:
            description = _old_text(content)
        elif key == b"og:title" and og_title is None:
            og_title = _old_text(content)
        elif key == b"og:image" and og_image is None:
            og_image = _old_text(content)
        elif key == b"article:published_time" and published is None:
            published = _old_text(content)
        elif key == b"robots":
            toks = re.split(r"[,\s]+", content.decode("utf-8", "replace").lower())
            if "noindex" in toks:
                noindex = True
    canonical = None
    for m in re.finditer(rb"<link\s[^>]*>", html, re.I):
        attrs = _old_attrs(m.group(0))
        rel = (attrs.get(b"rel") or b"").lower().split()
        href = attrs.get(b"href")
        if b"canonical" in rel and href:
            try:
                canonical = urljoin(url, href.decode("utf-8", "replace").strip())
            except ValueError:
                canonical = None
            break
    return (url, title, description, canonical, og_title, og_image,
            published, noindex)


def _old_headings(url, html):
    html = _INERT_RE.sub(b" ", html)
    rows = []
    for m in re.finditer(rb"<h([1-6])[^>]*>(.*?)</h\1\s*>", html, re.I | re.S):
        heading = _old_inner(m.group(2))
        if heading:
            rows.append((url, len(rows), int(m.group(1)), heading))
    return rows


def _old_tables(url, html):
    html = _INERT_RE.sub(b" ", html)
    rows = []
    depth, tid, rid, cid = 0, -1, -1, 0
    cell_start, cell_th, cell_span = None, False, 1

    def close_cell(end):
        nonlocal cell_start, cid
        if cell_start is not None and rid >= 0:
            rows.append((url, tid, rid, cid, _old_inner(html[cell_start:end]), cell_th))
            cid += cell_span
        cell_start = None

    for m in re.finditer(
        rb"<(/?)(table|tr|td|th)(?=[\s/>])[^>]*>", html, re.I
    ):
        closing = m.group(1) == b"/"
        name = m.group(2).lower()
        if depth == 1:
            close_cell(m.start())
        if name == b"table":
            if closing:
                depth = max(depth - 1, 0)
            else:
                depth += 1
                if depth == 1:
                    tid += 1
                    rid = -1
        elif depth == 1 and name == b"tr" and not closing:
            rid += 1
            cid = 0
        elif depth == 1 and name in (b"td", b"th") and not closing:
            try:
                cell_span = max(int(_old_attrs(m.group(0)).get(b"colspan", b"1")), 1)
            except ValueError:
                cell_span = 1
            cell_th = name == b"th"
            cell_start = m.end()
    if depth == 1:
        close_cell(len(html))
    return rows


def _old_jsonld(url, html):
    out = []
    for m in re.finditer(rb"<script\s[^>]*>(.*?)</script\s*>", html, re.I | re.S):
        attrs = _old_attrs(m.group(0)[: m.group(0).find(b">") + 1])
        if (attrs.get(b"type") or b"").lower().strip() != b"application/ld+json":
            continue
        body = m.group(1).decode("utf-8", "replace").strip()
        if body:
            out.append((url, len(out), body))
    return out


def _old_sitemap(host, xml):
    rows = []
    for m in re.finditer(rb"<(url|sitemap)\s*>(.*?)</\1\s*>", xml, re.I | re.S):
        kind = "url" if m.group(1).lower() == b"url" else "sitemap"
        fields = {}
        for f in re.finditer(
            rb"<(loc|lastmod|changefreq|priority)\s*>(.*?)</\1\s*>",
            m.group(2),
            re.I | re.S,
        ):
            fields[f.group(1).lower()] = htmlcore._decode_entities(
                f.group(2).decode("utf-8", "replace").strip()
            )
        loc = fields.get(b"loc")
        if not loc:
            continue
        pr = None
        if b"priority" in fields:
            try:
                pr = float(fields[b"priority"])
            except ValueError:
                pr = None
        rows.append((host, loc, fields.get(b"lastmod"),
                     fields.get(b"changefreq"), pr, kind))
    return rows


_PAIRS = [
    (_old_links, _page_links),
    (_old_meta, _page_meta),
    (_old_headings, _page_headings),
    (_old_tables, _page_tables),
    (_old_jsonld, _page_jsonld),
]

# whole tags and elements only: no stray '<' or '>', no quote inside a
# value, no unclosed raw-text element or comment, no prefix-only names,
# no closes with attributes, letters-only attribute names: none of (a)-(e)
_CLASS_FREE = [
    b"<a href='/p'>", b'<a href="http://y/z" rel=nofollow>', b"<a href=/q>",
    b"<a>", b"</a>", b"<A HREF=/up>", b"</A>", b"<base href=http://b/>",
    b"<table>", b"</table>", b"<tr>", b"</tr>", b"<td>", b"</td>",
    b"<th colspan='2'>", b"<td colspan=zz>", b"<td.x>", b"<a.x href=/d>",
    b"<meta name=robots content=noindex>",
    b"<meta/name=robots content=noindex>",
    b"<meta property=og:title content='O'>",
    b'<meta name=description content="d &quot;q">',
    b"<link rel=canonical href='/c'>", b"<title>", b"</title>", b"<h1>",
    b"</h1>", b"<h2 id=x>", b"</h2>", b"<H3>", b"</h3>", b"<p>", b"</p>",
    b"<b>", b"</b>", b"<br/>", b"<style>p{}</style>",
    b"<script>x()</script>",
    b"<script type='application/ld+json'>{\"a\":1}</script>",
    b"<script type=\"APPLICATION/LD+JSON\"> [] </script>",
    b"<template>t</template>", b"<!-- c -->", b"<![CDATA[x]]>",
    b"<noscript>", b"</noscript>", b"<svg>", b"</svg>", b"word ",
    b"text &amp; more ", b"&#65;", b"\xc3\xa9", b"\xff\xfe", b"\xc2\xa0",
    b" ", b"\n", b"x", b"#frag", b"javascript:x", b"http://x/", b"%%", b"=",
    b"<img src=/i.png alt='A'>", b"<ul>", b"<li>", b"</ul>",
]


@given(st.lists(st.sampled_from(_CLASS_FREE), max_size=60).map(b"".join))
@settings(max_examples=300, deadline=None)
def test_field_parsers_match_frozen_regex_parsers(page):
    for old, new in _PAIRS:
        assert new("https://h.example/a/b", page) == old(
            "https://h.example/a/b", page
        ), (old.__name__, page)


_SITEMAPISH = st.binary(max_size=512) | st.builds(
    b"".join,
    st.lists(
        st.sampled_from(
            [
                b"<url>", b"</url>", b"<URL >", b"</url\n>", b"<sitemap>",
                b"</sitemap>", b"<loc>", b"</loc>", b"<LOC>", b"<lastmod>",
                b"</lastmod>", b"<changefreq>", b"</changefreq>",
                b"<priority>", b"</priority>", b"0.5", b"x", b"http://a/",
                b"&amp;", b" ", b"<urlset>", b"<url x>", b"\xff", b"<", b">",
            ]
        ),
        max_size=40,
    ),
)


@given(_SITEMAPISH)
@settings(max_examples=400, deadline=None)
def test_sitemap_matches_frozen_regex_parser(xml):
    assert _parse_sitemap("h", xml) == _old_sitemap("h", xml)


# --- the divergence classes, one pinned input each ---------------------------

_U = "https://h.example/"


def test_class_a_quotes_and_angles_move_a_tags_end():
    # a '>' inside a quoted value no longer ends the tag, a '<' before
    # the '>' is inside the tag, and an unterminated quote ends no tag
    page = b"<a href=/x title='a>b'>one</a><a href=/y <b>two</a>"
    assert _old_links(_U, page) == [
        (_U, _U + "x", "b'>one", False),
        (_U, _U + "y", "two", False),
    ]
    assert _page_links(_U, page) == [
        (_U, _U + "x", "one", False),
        (_U, _U + "y", "two", False),
    ]
    script = b"<script>w(\"<b x='\")</script><h1>kept</h1>'>"
    assert _old_headings("u", script) == [("u", 0, 1, "kept")]
    assert _page_headings("u", script) == []


def test_class_b_names_match_whole_and_closes_take_attributes():
    title = b"<titlex>no</title>"
    assert _old_meta(_U, title)[1] == "no"
    assert _page_meta(_U, title)[1] is None
    assert _old_headings("u", b"<h12>no</h1>") == [("u", 0, 1, "no")]
    assert _page_headings("u", b"<h12>no</h1>") == []
    link = b"<a href=/a>x</a y>"
    assert _old_links(_U, link) == []
    assert _page_links(_U, link) == [(_U, _U + "a", "x", False)]
    ld = b"<script type=application/ld+json>{}</script x>[]</script>"
    assert _old_jsonld("u", ld) == [("u", 0, "{}</script x>[]")]
    assert _page_jsonld("u", ld) == [("u", 0, "{}")]


def test_class_c_skipped_markup_is_not_read():
    page = b"<!x <a href=/a>> <?p <h1>h</h1> ?>"
    assert _old_links(_U, b"<!x <a href=/a>a</a>") == [(_U, _U + "a", "a", False)]
    assert _page_links(_U, b"<!x <a href=/a>a</a>") == []
    assert _old_headings("u", page) == [("u", 0, 1, "h")]
    assert _page_headings("u", page) == []
    ld = b'<!-- <script type="application/ld+json">{}</script> -->'
    assert _old_jsonld("u", ld) == [("u", 0, "{}")]
    assert _page_jsonld("u", ld) == []


def test_class_d_attribute_grammar():
    # names with digits or ':', bare values holding a quote, and Unicode
    # whitespace follow the one attribute parser on decoded text
    page = b'<a xlink:href=/x>x</a><a href=/a"b">y</a>'
    assert _old_links(_U, page) == [
        (_U, _U + "x", "x", False),
        (_U, _U + "a", "y", False),
    ]
    assert _page_links(_U, page) == [(_U, _U + 'a"b"', "y", False)]
    nbsp = "<a rel=nofollow\u00a0href=/n>n</a>".encode()
    assert _old_links(_U, nbsp) == []
    assert _page_links(_U, nbsp) == [(_U, _U + "n", "n", True)]


def test_class_e_text_angle_brackets_stay_text():
    # a '<' that starts no tag is text, as main-content extraction and
    # markdown always read it; the old inner-tag strip blanked to '>'
    page = b"<h1>a < b > c</h1><table><tr><td>1 <3 2 > 0</table>"
    assert _old_headings("u", page) == [("u", 0, 1, "a c")]
    assert _page_headings("u", page) == [("u", 0, 1, "a < b > c")]
    assert _old_tables("u", page) == [("u", 0, 0, 0, "1 0", False)]
    assert _page_tables("u", page) == [("u", 0, 0, 0, "1 <3 2 > 0", False)]


def test_class_f_self_closed_svg_opens_no_raw_text():
    # HTML5 honours "/>" on foreign elements: the old tokenizer took
    # <svg/> as an open raw-text element, which dropped the rest of the
    # page from main-content extraction; <script/> still ignores the
    # slash, as browsers do
    para = b"<p>" + b"This paragraph is the main content of the page. " * 3
    page = b"<html><body><svg/>" + para + b"</p></body></html>"
    s = page.decode("latin-1")
    names = [t[3] for t in scan_tags(s, htmlcore._RAWTEXT) if t[3]]
    assert names == ["html", "body", "svg", "p", "p", "body", "html"]
    out = htmlcore.extract_main_content(page)
    assert out["n_content_blocks"] == 1
    assert out["text"].startswith("This paragraph is the main content")
    svg = "<svg width=1 /><p>x</p></svg>"
    assert [t[3] for t in scan_tags(svg, htmlcore._RAWTEXT)] == [
        "svg", "p", None, "p", "svg"
    ]
    script = "<script/><p>x</p></script><p>y</p>"
    assert [t[3] for t in scan_tags(script, htmlcore._RAWTEXT)] == [
        "script", "script", "p", None, "p"
    ]
