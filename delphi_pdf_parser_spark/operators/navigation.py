"""Spark operator for document navigation (outlines + links)."""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .extraction import prefilter_pdfs

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


def _nav_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from delphi_pdf_parser_spark.pdfcore.document import PdfDocument
    from delphi_pdf_parser_spark.pdfcore.navigation import (
        extract_links,
        extract_outline,
    )
    from delphi_pdf_parser_spark.pdfcore.pages import load_page_tree

    for b in batches:
        rows = []
        for url, html in zip(b["url"], b["html"]):
            try:
                doc = PdfDocument(bytes(html))
                load_page_tree(doc)
            except Exception:
                continue
            try:
                for o in extract_outline(doc):
                    rows.append((url, "outline", o.level, -1, o.title, o.dest))
                for link in extract_links(doc):
                    rows.append(
                        (url, "link", -1, link.page, link.kind, link.target)
                    )
            except Exception:
                continue
        yield pd.DataFrame(rows, columns=[f.name for f in NAV_SCHEMA.fields])


def extract_navigation(documents: DataFrame) -> DataFrame:
    return prefilter_pdfs(documents).mapInPandas(_nav_batches, NAV_SCHEMA)
