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

from delphi_pdf_parser_spark.htmlcore import (
    _HEADING,
    attrs_of,
    clean_text,
    inner_text,
    pair_elements,
    scan_bytes,
    spaced,
    utf8,
)

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


def _text(raw: str) -> Optional[str]:
    return clean_text(raw) or None


def _page_meta(url: str, html) -> tuple:
    # tags come from the one scanner, so a <title> or <meta> inside a
    # comment or a script string literal is not page metadata
    s, tags = scan_bytes(html)
    title = None
    for i, j in pair_elements(tags, lambda t: t[3] == "title"):
        title = inner_text(s, tags, i, j, markup=True) or None
        break
    description = og_title = og_image = published = canonical = None
    noindex = link_seen = False
    for t in tags:
        if t[3] not in ("meta", "link") or t[2] or not spaced(t):
            continue
        attrs = attrs_of(t)
        if t[3] == "link":
            rel = (attrs.get("rel") or "").lower().split()
            href = attrs.get("href")
            if not link_seen and "canonical" in rel and href:
                link_seen = True  # the first canonical wins, like crawlers
                try:
                    canonical = urljoin(url, href.strip())
                except ValueError:
                    canonical = None
            continue
        key = (attrs.get("name") or attrs.get("property") or "").lower()
        content = attrs.get("content")
        if content is None:
            continue
        if key == "description" and description is None:
            description = _text(content)
        elif key == "og:title" and og_title is None:
            og_title = _text(content)
        elif key == "og:image" and og_image is None:
            og_image = _text(content)
        elif key == "article:published_time" and published is None:
            published = _text(content)
        elif key == "robots" and "noindex" in re.split(r"[,\s]+", content.lower()):
            noindex = True
    return (url, title, description, canonical, og_title, og_image,
            published, noindex)


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

def _page_jsonld(url: str, html) -> list:
    s, tags = scan_bytes(html)
    out = []
    for i, j in pair_elements(tags, lambda t: t[3] == "script" and spaced(t)):
        mtype = (attrs_of(tags[i]).get("type") or "").lower().strip()
        if mtype != "application/ld+json":
            continue
        body = utf8(s[tags[i][1] : tags[j][0]]).strip()
        if body:
            out.append((url, len(out), body))
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

def _page_headings(url: str, html) -> list:
    # commented-out or script-embedded <h1-6> never reach the tag list
    s, tags = scan_bytes(html)
    rows = []
    for i, j in pair_elements(tags, lambda t: t[3] in _HEADING):
        heading = inner_text(s, tags, i, j)
        if heading:
            # pos indexes KEPT headings (gap-free even when empty
            # headings are dropped mid-document)
            rows.append((url, len(rows), int(tags[i][3][1]), heading))
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
