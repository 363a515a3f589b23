"""Spark operator for image extraction (openfile3 parity): one
mapInPandas sweep emitting (url, obj_num, ..., data BINARY) rows."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .extraction import prefilter_pdfs
from .parallelize import map_rows, page_rows

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


def _image_rows(url: str, data: bytes) -> list:
    from delphi_pdf_parser_spark.pdfcore.images import extract_images

    return [
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
        for im in extract_images(data)
    ]


def extract_document_images(documents: DataFrame) -> DataFrame:
    return map_rows(prefilter_pdfs(documents), page_rows(_image_rows), IMAGES_SCHEMA)
