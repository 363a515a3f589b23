"""Sources for the Common-Crawl-style documents table and fixture corpus.

The engine's input contract (BASELINE.json input_hint) is an
Iceberg/parquet table ``documents(url STRING, warc_ts TIMESTAMP,
html BINARY, text STRING, lang STRING)``. In this sandbox there is no
Iceberg catalog, so ``load_documents`` reads parquet — the scan-side
behavior (split planning, predicate pushdown, column pruning) is the
same DataFrameReader path an Iceberg table uses.

The fixture corpus is synthesized deterministically (seed-free: the
generator is pure), per the task rule "synthesise it deterministically at
small scale for tests and benchmarks; no external data".
"""

from __future__ import annotations

import datetime
import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from delphi_pdf_parser_spark.operators.parallelize import map_rows

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

GOLDEN_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("text", StringType()),
        StructField("sha256", StringType()),
        StructField("npages", IntegerType()),
    ]
)

_EPOCH = datetime.datetime(2024, 1, 1)


def fixture_documents(spark: SparkSession) -> DataFrame:
    """The FIXTURES.md corpus as a documents-shaped DataFrame."""
    from delphi_pdf_parser_spark.fixtures import generate_fixtures

    rows = []
    for i, (case_id, fx) in enumerate(sorted(generate_fixtures().items())):
        rows.append(
            (
                fx["url"],
                _EPOCH + datetime.timedelta(seconds=i),
                bytearray(fx["pdf"]),
                None,
                fx["lang"],
            )
        )
    return spark.createDataFrame(rows, DOCUMENTS_SCHEMA)


def fixture_golden(spark: SparkSession) -> DataFrame:
    """Expected (url, text, sha256, npages) for verifiable fixtures."""
    from delphi_pdf_parser_spark.fixtures import generate_fixtures

    rows = []
    for case_id, fx in sorted(generate_fixtures().items()):
        if fx["golden"] is None:
            continue
        sha = hashlib.sha256(fx["golden"].encode("utf-8")).hexdigest()
        rows.append((fx["url"], fx["golden"], sha, fx["npages"]))
    return spark.createDataFrame(rows, GOLDEN_SCHEMA)


def bench_documents(
    spark: SparkSession, n_docs: int, pages_per_doc: int = 2, skew_docs: int = 0,
    skew_pages: int = 200, slices: int | None = None,
) -> DataFrame:
    """Deterministic synthetic corpus (BASELINE.md bench-uniform /
    bench-skew). Built distributed: the PDF bytes are generated on the
    executors from the seed, so the driver never materializes the corpus."""
    ids = spark.range(0, n_docs, 1, slices or spark.sparkContext.defaultParallelism)

    def gen(i) -> list:
        from delphi_pdf_parser_spark.fixtures import bench_pdf

        i = int(i)
        npages = skew_pages if i < skew_docs else 1 + (i % pages_per_doc)
        pdf = bench_pdf(seed=42 + i, npages=npages)
        return [(f"pdf://bench/{i:08d}", _EPOCH, pdf, None, "en")]

    return map_rows(ids, gen, DOCUMENTS_SCHEMA)


def load_documents(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
