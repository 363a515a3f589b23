"""Spark operator for image extraction (openfile3 parity): one
mapInPandas sweep emitting (url, obj_num, ..., data BINARY) rows."""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .extraction import prefilter_pdfs

IMAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("obj_num", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("bpc", IntegerType()),
        StructField("colorspace", StringType()),
        StructField("filter", StringType()),
        StructField("format", StringType()),
        StructField("data", BinaryType()),
    ]
)


def _image_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from delphi_pdf_parser_spark.pdfcore.images import extract_images

    for b in batches:
        rows = []
        for url, html in zip(b["url"], b["html"]):
            try:
                images = extract_images(bytes(html))
            except Exception:
                continue
            for im in images:
                rows.append(
                    (
                        url,
                        im.obj_num,
                        im.width,
                        im.height,
                        im.bpc,
                        im.colorspace,
                        im.filter_name,
                        im.format,
                        im.data,
                    )
                )
        yield pd.DataFrame(rows, columns=[f.name for f in IMAGES_SCHEMA.fields])


def extract_document_images(documents: DataFrame) -> DataFrame:
    return prefilter_pdfs(documents).mapInPandas(_image_batches, IMAGES_SCHEMA)
