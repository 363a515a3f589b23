"""Production extraction job.

    spark-submit --py-files engine.zip jobs/extract_job.py \
        --input  s3://.../documents/   (or an Iceberg table via --table) \
        --output /path/extracted/ --metrics /path/metrics/ \
        [--resume] [--partitions N]

Build engine.zip with:  python -m zipfile -c engine.zip delphi_pdf_parser_spark

Where the package is importable on executors when their Python daemon
starts (installed, or its parent directory on PYTHONPATH; not through
--py-files, which reach sys.path only later), add
``--conf spark.python.daemon.module=delphi_pdf_parser_spark.sparkdaemon``:
reused Python workers then skip re-reading the zip directories on
sys.path at every task (see ``delphi_pdf_parser_spark/sparkdaemon.py``).
Elsewhere leave it out; a daemon that cannot import fails every task.

Pipeline: scan (parquet / Iceberg table / raw WARC segments via --warc)
-> %PDF prefilter -> deterministic per-url salting -> mapInPandas
extraction -> extracted + metrics parquet (append). With --resume, urls
already present in the metrics table are anti-joined away first, giving
checkpoint-resume at partition granularity: a killed run reprocesses
only unfinished urls. With --html-output, non-PDF rows additionally run
the HTML boilerplate-strip path — the complete Common-Crawl
main-content job (PDF + web pages) in one spark-submit.
"""

from __future__ import annotations

import argparse
import sys


def main(argv=None):
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet path of the documents table")
    src.add_argument("--table", help="catalog table name (e.g. Iceberg)")
    src.add_argument("--warc", help="directory/glob of .warc(.gz) segments")
    ap.add_argument("--output", required=True)
    ap.add_argument("--metrics", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--input-split", default="")
    ap.add_argument(
        "--whale-bytes",
        type=int,
        default=1 << 20,
        help="documents >= this size take the page-chunked path "
        "(0 disables chunking)",
    )
    ap.add_argument("--pages-per-chunk", type=int, default=100)
    ap.add_argument(
        "--html-output",
        default="",
        help="also strip HTML boilerplate from non-PDF rows and write the "
        "main-content table here (the full Common-Crawl main-content job)",
    )
    ap.add_argument(
        "--password-col",
        default="",
        help="name of a per-document password column on the input table "
        "(join your url->password side table first); wrong/missing "
        "passwords land as needs_password metric rows — on both the "
        "main and the whale-chunked path.",
    )
    ap.add_argument(
        "--presalted",
        action="store_true",
        help="input table is already bucketed/clustered by url hash at "
        "ingest: skip the salting exchange (whale page-chunks still "
        "repartition). Saves the pipeline's only full shuffle.",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from delphi_pdf_parser_spark.operators.extraction import (
        extract_documents,
        extract_documents_balanced,
        metrics_table,
        resume_anti_join,
    )

    preexisting = SparkSession.getActiveSession() is not None
    spark = SparkSession.builder.appName("pdf-extract").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")

    if args.table:
        docs = spark.read.table(args.table)
    elif args.warc:
        from delphi_pdf_parser_spark.sources.warc import read_warc

        docs = read_warc(spark, args.warc)
    else:
        docs = spark.read.parquet(args.input)

    if args.resume:
        try:
            done = spark.read.parquet(args.metrics)
            docs = resume_anti_join(docs, done)
        except Exception:
            pass  # no metrics yet: fresh run

    if args.whale_bytes > 0:
        extracted = extract_documents_balanced(
            docs,
            whale_bytes=args.whale_bytes,
            pages_per_chunk=args.pages_per_chunk,
            salt_partitions=args.partitions,
            salt=not args.presalted,
            password_col=args.password_col or None,
        )
    else:
        extracted = extract_documents(
            docs,
            salt_partitions=args.partitions,
            salt=not args.presalted,
            password_col=args.password_col or None,
        )
    extracted = extracted.cache()
    extracted.write.mode("append").parquet(args.output)
    metrics_table(extracted, input_split=args.input_split).write.mode(
        "append"
    ).parquet(args.metrics)

    if args.html_output:
        from delphi_pdf_parser_spark.operators.htmltext import (
            extract_html_documents,
        )

        extract_html_documents(docs).write.mode("append").parquet(
            args.html_output
        )

    counts = {
        r["status"]: r["n"]
        for r in extracted.groupBy("status").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    print(f"extraction complete: {counts}", file=sys.stderr)
    if not preexisting:
        spark.stop()


if __name__ == "__main__":
    main()
