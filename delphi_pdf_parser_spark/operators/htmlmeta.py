"""HTML document-metadata extraction: the web analogue of the PDF
/Info dictionary pass (A40, ``pdfcore/metadata.py`` — the reference's
``openfile1`` surfaces Title/Author/dates; a web page surfaces them as
``<title>``, ``<meta>``, ``<link rel=canonical>`` and OpenGraph tags).

A crawl pipeline consumes these fields directly: canonical URLs feed
URL-level dedup (``urls.canonicalize_url`` handles syntax; the
publisher-declared canonical handles mirrors/AMP), ``noindex`` is a
politeness/compliance filter, ``published_time`` drives freshness
scoring and recrawl scheduling, and og:title/description are the
snippet fields.

One Arrow ``mapInPandas`` pass over (url, html) — map-only, no shuffle,
same zero-per-row-Python contract as every extraction stage.
"""

from __future__ import annotations

import re
from typing import Optional
from urllib.parse import urljoin

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from delphi_pdf_parser_spark.operators.graphs import _attrs

from .parallelize import map_rows, page_rows

META_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("canonical", StringType()),
        StructField("og_title", StringType()),
        StructField("og_image", StringType()),
        StructField("published_time", StringType()),
        StructField("noindex", BooleanType()),
    ]
)

_TITLE_RE = re.compile(rb"<title[^>]*>(.*?)</title\s*>", re.I | re.S)
_META_RE = re.compile(rb"<meta\s[^>]*>", re.I)
_LINK_RE = re.compile(rb"<link\s[^>]*>", re.I)
_WS_RE = re.compile(r"\s+")


def _text(raw: Optional[bytes]) -> Optional[str]:
    from delphi_pdf_parser_spark.htmlcore import _decode_entities

    if raw is None:
        return None
    s = _decode_entities(raw.decode("utf-8", "replace"))
    s = _WS_RE.sub(" ", s).strip()
    return s or None


def _page_meta(url: str, html: bytes, stripped: bool = False) -> tuple:
    # blank comments/CDATA/script/style/template first: a <title> or
    # <meta> inside a commented block or a script string literal is not
    # page metadata (VERDICT r6 finding #1)
    if not stripped:
        from delphi_pdf_parser_spark.htmlcore import strip_inert_bytes

        html = strip_inert_bytes(html)
    title = None
    tm = _TITLE_RE.search(html)
    if tm is not None:
        title = _text(tm.group(1))
    description = og_title = og_image = published = None
    noindex = False
    for m in _META_RE.finditer(html):
        attrs = _attrs(m.group(0))
        key = (attrs.get(b"name") or attrs.get(b"property") or b"").lower()
        content = attrs.get(b"content")
        if content is None:
            continue
        if key == b"description" and description is None:
            description = _text(content)
        elif key == b"og:title" and og_title is None:
            og_title = _text(content)
        elif key == b"og:image" and og_image is None:
            og_image = _text(content)
        elif key == b"article:published_time" and published is None:
            published = _text(content)
        elif key == b"robots":
            toks = re.split(
                r"[,\s]+", content.decode("utf-8", "replace").lower()
            )
            if "noindex" in toks:
                noindex = True
    canonical = None
    for m in _LINK_RE.finditer(html):
        attrs = _attrs(m.group(0))
        rel = (attrs.get(b"rel") or b"").lower().split()
        href = attrs.get(b"href")
        if b"canonical" in rel and href:
            try:
                canonical = urljoin(
                    url, href.decode("utf-8", "replace").strip()
                )
            except ValueError:
                canonical = None
            break  # first canonical wins, like browsers/crawlers
    return (
        url,
        title,
        description,
        canonical,
        og_title,
        og_image,
        published,
        noindex,
    )


def _meta_rows(url: str, html: bytes) -> list:
    try:
        return [_page_meta(url, html)]
    except Exception:
        return [(url,) + (None,) * 6 + (False,)]


JSONLD_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("blob_id", IntegerType()),
        StructField("json", StringType()),
    ]
)

_SCRIPT_RE = re.compile(
    rb"<script\s[^>]*>(.*?)</script\s*>", re.I | re.S
)


def _page_jsonld(url: str, html: bytes) -> list:
    out = []
    i = 0
    for m in _SCRIPT_RE.finditer(html):
        attrs = _attrs(m.group(0)[: m.group(0).find(b">") + 1])
        mtype = (attrs.get(b"type") or b"").lower().strip()
        if mtype != b"application/ld+json":
            continue
        body = m.group(1).decode("utf-8", "replace").strip()
        if body:
            out.append((url, i, body))
            i += 1
    return out


def extract_jsonld(
    documents: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """schema.org structured-data pass: every
    ``<script type="application/ld+json">`` blob on every page as
    (url, blob_id, json, schema_type, name) — the entity-annotation
    mining step (recipes, products, articles) of a web corpus.
    Extraction is one mapInPandas pass; the JSON fields are decoded
    JVM-side with ``get_json_object`` (never Python json.loads per
    row)."""
    df = documents.select(
        F.col(url_col).alias("url"), F.col(html_col).alias("html")
    ).filter(F.col(html_col).isNotNull())
    blobs = map_rows(df, page_rows(_page_jsonld), JSONLD_SCHEMA)
    return blobs.select(
        "url",
        "blob_id",
        "json",
        F.get_json_object("json", "$['@type']").alias("schema_type"),
        F.get_json_object("json", "$.name").alias("name"),
    )


def extract_html_metadata(
    documents: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Per-page metadata row: (url, title, description, canonical,
    og_title, og_image, published_time, noindex)."""
    df = documents.select(
        F.col(url_col).alias("url"), F.col(html_col).alias("html")
    ).filter(F.col(html_col).isNotNull())
    return map_rows(df, page_rows(_meta_rows), META_SCHEMA)


HEADINGS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("pos", IntegerType()),
        StructField("level", IntegerType()),
        StructField("heading", StringType()),
    ]
)

_H_RE = re.compile(rb"<h([1-6])[^>]*>(.*?)</h\1\s*>", re.I | re.S)
_INNER_TAG_RE = re.compile(rb"<[^>]*>")


def _page_headings(
    url: str, html: bytes, stripped: bool = False
) -> list:
    from delphi_pdf_parser_spark.htmlcore import (
        _decode_entities,
        strip_inert_bytes,
    )

    # commented-out or script-embedded <h1-6> must not enter the outline
    if not stripped:
        html = strip_inert_bytes(html)
    rows = []
    for m in _H_RE.finditer(html):
        text = _INNER_TAG_RE.sub(b" ", m.group(2)).decode(
            "utf-8", "replace"
        )
        heading = _WS_RE.sub(" ", _decode_entities(text)).strip()
        if heading:
            # pos indexes KEPT headings (gap-free even when empty
            # headings are dropped mid-document)
            rows.append((url, len(rows), int(m.group(1)), heading))
    return rows


def extract_headings(
    documents: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Document outline from h1-h6 headings: (url, pos, level,
    heading) in document order — the web analogue of the reference's
    PDF outline walk (``pdf_load_outline``, mirrored for PDFs by
    ``pdfcore/navigation.py:extract_outline``). One mapInPandas pass;
    inline markup stripped, entities decoded, empty headings dropped.
    """
    df = documents.select(
        F.col(url_col).alias("url"), F.col(html_col).alias("html")
    ).filter(F.col(html_col).isNotNull())
    return map_rows(df, page_rows(_page_headings), HEADINGS_SCHEMA)
