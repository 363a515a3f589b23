"""Spark operator for the display-list op census (pdfcore/opcensus.py):
one mapInPandas sweep -> per-(url, page) operator-category counts. The
cheap stand-in for the reference's render sink: what a page DRAWS,
without rasterizing it — a corpus-triage statistic at 100 TB scale."""

from __future__ import annotations

from typing import Iterator

import pandas as pd

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

CENSUS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("page", IntegerType()),
        StructField("n_ops", LongType()),
    ]
    + [StructField(f"n_{c}", LongType()) for c in _CATS]
)


def _census_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from delphi_pdf_parser_spark.pdfcore.opcensus import op_census

    cols = [f.name for f in CENSUS_SCHEMA.fields]
    for b in batches:
        rows = []
        for url, html in zip(b["url"], b["html"]):
            try:
                pages = op_census(bytes(html))
            except Exception:
                continue
            for p in pages:
                rows.append(
                    (url, p["page"], p["n_ops"])
                    + tuple(p[c] for c in _CATS)
                )
        yield pd.DataFrame(rows, columns=cols)


def document_op_census(documents: DataFrame) -> DataFrame:
    return prefilter_pdfs(documents).mapInPandas(_census_batches, CENSUS_SCHEMA)
