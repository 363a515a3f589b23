"""Spark operator for document navigation (outlines + links)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .extraction import prefilter_pdfs
from .parallelize import map_rows, page_rows

NAV_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("kind", StringType()),  # outline | link
        StructField("level", IntegerType()),
        StructField("page", IntegerType()),
        StructField("title", StringType()),
        StructField("target", StringType()),
    ]
)


def _nav_rows(url: str, data: bytes) -> list:
    from delphi_pdf_parser_spark.pdfcore.document import PdfDocument
    from delphi_pdf_parser_spark.pdfcore.navigation import (
        extract_links,
        extract_outline,
    )
    from delphi_pdf_parser_spark.pdfcore.pages import load_page_tree

    doc = PdfDocument(data)
    load_page_tree(doc)
    rows = []
    try:  # the outline rows stay when the link walk raises
        for o in extract_outline(doc):
            rows.append((url, "outline", o.level, -1, o.title, o.dest))
        for link in extract_links(doc):
            rows.append((url, "link", -1, link.page, link.kind, link.target))
    except Exception:
        pass
    return rows


def extract_navigation(documents: DataFrame) -> DataFrame:
    return map_rows(prefilter_pdfs(documents), page_rows(_nav_rows), NAV_SCHEMA)
