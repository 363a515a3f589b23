"""Structured Streaming extraction.

The batch extraction UDF is pure and side-effect-free, so the streaming
path is ``extract_documents`` itself over ``readStream``. The reference has
no streaming analogue (SURVEY §2.B); this module exists so a Common-Crawl
ingest that lands parquet files continuously can run the identical
pipeline with exactly-once sinks via checkpointing.

Also provides a watermarked windowed rollup of the metrics stream — the
engine's only stateful streaming operator (failure-rate per window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delphi_pdf_parser_spark.operators.extraction import extract_documents
from delphi_pdf_parser_spark.sources.documents import DOCUMENTS_SCHEMA


def read_documents_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def extract_stream(documents: DataFrame) -> DataFrame:
    """Streaming extraction: the batch ``extract_documents`` without the
    salting exchange — streaming micro-batches are already bounded by
    maxFilesPerTrigger."""
    return extract_documents(documents, salt=False)


def metrics_windowed_rollup(
    documents: DataFrame, window: str = "1 minute", watermark: str = "2 minutes"
) -> DataFrame:
    """Stateful rollup: per event-time window, docs and failures.
    Watermark bounds state for late data."""
    df = documents.withWatermark("warc_ts", watermark)
    return (
        df.groupBy(F.window("warc_ts", window))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(
                    F.substring(F.col("html"), 1, 5) != F.lit(b"%PDF-"), 1
                ).otherwise(0)
            ).alias("n_non_pdf"),
        )
        .select("window.start", "window.end", "n_docs", "n_non_pdf")
    )


def run_to_sink(
    extracted: DataFrame,
    out_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    w = (
        extracted.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def sessionized_crawl_activity(
    documents: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Event-time SESSION windows per source host: crawl activity groups
    into sessions that close after `gap` of silence. Built on
    F.session_window (dynamic-gap state store, watermark-bounded) — the
    streaming counterpart of the batch sessionize_events operator.

    Host extraction is a JVM regexp over the url, so the only stateful
    work is the session-window aggregation itself.
    """
    host = F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]*)", 1)
    df = documents.withWatermark("warc_ts", watermark).select(
        host.alias("host"), F.col("warc_ts"), F.col("html")
    )
    return (
        df.groupBy("host", F.session_window("warc_ts", gap))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("html")).alias("n_bytes"),
        )
        .select(
            "host",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_docs",
            "n_bytes",
        )
    )
