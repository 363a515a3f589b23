"""Spark operator for HTML main-content extraction (boilerplate strip).

Same pipeline shape as PDF extraction: prefilter -> (optional salt) ->
one Arrow mapInPandas pass over html bytes -> (url, title, text,
n_blocks, n_content_blocks, status). Composes with the PDF path into a
full Common-Crawl main-content job: route application/pdf payloads to
extract_documents, text/html payloads here, union the text columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from delphi_pdf_parser_spark.htmlcore import extract_main_content

from .parallelize import ensure_min_parallelism, map_rows

HTML_EXTRACTED_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("title", StringType()),
        StructField("text", StringType()),
        StructField("n_blocks", IntegerType()),
        StructField("n_content_blocks", IntegerType()),
        StructField("status", StringType()),
    ]
)


def _html_rows(url: str, html) -> list:
    try:
        r = extract_main_content(
            html.encode() if isinstance(html, str) else bytes(html)
        )
    except Exception as e:  # tolerant, like the PDF path
        return [(url, None, None, 0, 0, f"failed:{e}")]
    return [
        (url, r["title"], r["text"], r["n_blocks"], r["n_content_blocks"], "ok")
    ]


def prefilter_html(documents: DataFrame) -> DataFrame:
    """Keep rows whose payload looks like markup (cheap JVM-side byte
    probe: '<' within the first bytes after optional whitespace/BOM) and
    is NOT a PDF. Pushes down to the scan like the %PDF- prefilter."""
    head = F.substring(F.col("html"), 1, 256).cast("string")
    return documents.select("url", "html").filter(
        F.col("html").isNotNull()
        & (F.substring(F.col("html"), 1, 5) != F.lit(b"%PDF-"))
        & (F.lower(head).rlike(r"^\s*(<!doctype|<html|<head|<body|<)"))
    )


def extract_html_documents(
    documents: DataFrame, prefilter: bool = True
) -> DataFrame:
    df = prefilter_html(documents) if prefilter else documents.select(
        "url", "html"
    )
    return map_rows(ensure_min_parallelism(df), _html_rows, HTML_EXTRACTED_SCHEMA)
