"""Single-scan web-annotations pass — the WAT-generation shape: at
10^12 pages, running link extraction, metadata, table mining and
JSON-LD as separate operators costs one full corpus scan EACH; this
pass computes all four in ONE ``mapInPandas`` scan and returns them as
typed nested columns (Common Crawl ships the same idea as WAT records;
here the "record" is a row with array<struct> columns, so downstream
consumers ``explode`` only the annotation family they need and column
pruning drops the rest at the scan).

Reuses the per-page parsers of ``graphs`` / ``htmlmeta`` /
``htmltables`` verbatim, fed one ``htmlcore.scan_bytes`` tag scan of
the page — the combined pass cannot drift from the single-purpose
operators, and the parity tests assert exploded equality against each
of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from delphi_pdf_parser_spark.htmlcore import scan_bytes
from delphi_pdf_parser_spark.operators.graphs import _page_links
from delphi_pdf_parser_spark.operators.htmlmeta import _page_jsonld, _page_meta
from delphi_pdf_parser_spark.operators.htmltables import _page_tables

from .parallelize import map_rows, page_rows

LINK_ITEM = StructType(
    [
        StructField("dst", StringType()),
        StructField("anchor", StringType()),
        StructField("nofollow", BooleanType()),
    ]
)
CELL_ITEM = StructType(
    [
        StructField("table_id", IntegerType()),
        StructField("row_id", IntegerType()),
        StructField("col_id", IntegerType()),
        StructField("cell", StringType()),
        StructField("is_header", BooleanType()),
    ]
)
WEB_PAGE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("links", ArrayType(LINK_ITEM)),
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("canonical", StringType()),
        StructField("og_title", StringType()),
        StructField("og_image", StringType()),
        StructField("published_time", StringType()),
        StructField("noindex", BooleanType()),
        StructField("tables", ArrayType(CELL_ITEM)),
        StructField("jsonld", ArrayType(StringType())),
    ]
)


def _annotation_rows(url: str, raw: bytes) -> list:
    # one tag scan serves all four parsers
    page = scan_bytes(raw)
    links = [
        {"dst": d, "anchor": a, "nofollow": nf}
        for _, d, a, nf in _page_links(url, page)
    ]
    meta = _page_meta(url, page)
    cells = [
        {"table_id": t, "row_id": r, "col_id": c, "cell": cell, "is_header": h}
        for _, t, r, c, cell, h in _page_tables(url, page)
    ]
    blobs = [body for _, _, body in _page_jsonld(url, page)]
    return [(url, links) + meta[1:] + (cells, blobs)]


def extract_web_annotations(
    documents: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """One scan, every annotation family: (url, links[], title,
    description, canonical, og_title, og_image, published_time,
    noindex, tables[], jsonld[])."""
    df = documents.select(
        F.col(url_col).alias("url"), F.col(html_col).alias("html")
    ).filter(F.col(html_col).isNotNull())
    return map_rows(df, page_rows(_annotation_rows), WEB_PAGE_SCHEMA)
