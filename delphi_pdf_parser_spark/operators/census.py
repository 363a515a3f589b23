"""Spark operator for the display-list op census (pdfcore/opcensus.py):
one mapInPandas sweep -> per-(url, page) operator-category counts. The
cheap stand-in for the reference's render sink: what a page DRAWS,
without rasterizing it — a corpus-triage statistic at 100 TB scale."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from delphi_pdf_parser_spark.pdfcore.opcensus import _CATS

from .extraction import prefilter_pdfs
from .parallelize import map_rows, page_rows

CENSUS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("page", IntegerType()),
        StructField("n_ops", LongType()),
    ]
    + [StructField(f"n_{c}", LongType()) for c in _CATS]
)


def _census_rows(url: str, data: bytes) -> list:
    from delphi_pdf_parser_spark.pdfcore.opcensus import op_census

    return [
        (url, p["page"], p["n_ops"]) + tuple(p[c] for c in _CATS)
        for p in op_census(data)
    ]


def document_op_census(documents: DataFrame) -> DataFrame:
    return map_rows(
        prefilter_pdfs(documents), page_rows(_census_rows), CENSUS_SCHEMA
    )
