"""Production corpus-curation job — the training-data half of the
pipeline, composed from the same operators the driver contract exposes.

    spark-submit --py-files engine.zip jobs/curate_job.py \
        --input /path/documents/  (or an Iceberg table via --table) \
        --output /path/curated/ --report /path/report/ \
        [--filter gopher|c4|both] [--dedup exact|paragraph|span] \
        [--shard-bytes N] [--partitions N]

Build engine.zip with:  python -m zipfile -c engine.zip delphi_pdf_parser_spark

Where the package is importable on executors when their Python daemon
starts (installed, or its parent directory on PYTHONPATH; not through
--py-files, which reach sys.path only later), add
``--conf spark.python.daemon.module=delphi_pdf_parser_spark.sparkdaemon``:
reused Python workers then skip re-reading the zip directories on
sys.path at every task (see ``delphi_pdf_parser_spark/sparkdaemon.py``).
Elsewhere leave it out; a daemon that cannot import fails every task.

Pipeline: scan -> quality filter (Gopher and/or C4 rule sets; only the
keep verdict is consumed, rule inputs land in the report) -> corpus
dedup (exact fingerprint keep-first, paragraph-level CCNet rewrite, or
exact-substring span rewrite) -> byte-balanced shard assignment ->
curated parquet partitioned by shard_id (size-balanced output files a
resumable writer can re-derive deterministically) + a per-stage report
table (counts per shard + stage totals). The filter+dedup lineage is
persisted once and reused by every downstream action; reruns are
idempotent under the default --write-mode overwrite.
"""

from __future__ import annotations

import argparse
import sys


def main(argv=None):
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet path of the documents table")
    src.add_argument("--table", help="catalog table name (e.g. Iceberg)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--report", required=True)
    ap.add_argument(
        "--filter", choices=("gopher", "c4", "both"), default="gopher"
    )
    ap.add_argument(
        "--dedup",
        choices=("exact", "paragraph", "span", "none"),
        default="exact",
    )
    ap.add_argument("--shard-bytes", type=int, default=256 << 20)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument(
        "--write-mode",
        choices=("overwrite", "append"),
        default="overwrite",
        help="overwrite (default) makes reruns idempotent; append is "
        "for multi-input accumulation and NOT crash-safe",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from delphi_pdf_parser_spark.operators import dedup as dd
    from delphi_pdf_parser_spark.operators import textstats as ts
    from delphi_pdf_parser_spark.operators.packing import doc_shard_ids

    preexisting = SparkSession.getActiveSession() is not None
    spark = SparkSession.builder.appName("corpus-curate").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    if args.partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.partitions))

    if args.table:
        docs = spark.read.table(args.table)
    else:
        docs = spark.read.parquet(args.input)
    n_input = docs.count()

    # --- quality filter: verdicts joined on doc_id (rule inputs are
    # cheap map-only projections; the join key is the narrow doc_id)
    keep = None
    if args.filter in ("gopher", "both"):
        keep = ts.gopher_quality(docs).select("doc_id", "keep")
    if args.filter in ("c4", "both"):
        c4 = ts.c4_base(docs).select(
            "doc_id", F.col("keep").alias("c4_keep")
        )
        keep = (
            c4.withColumnRenamed("c4_keep", "keep")
            if keep is None
            else keep.join(c4, "doc_id").select(
                "doc_id",
                ((F.col("keep") == 1) & (F.col("c4_keep") == 1))
                .cast("int")
                .alias("keep"),
            )
        )
    filtered = docs.join(
        keep.filter(F.col("keep") == 1).select("doc_id"), "doc_id"
    )
    n_filtered = filtered.count()

    # --- dedup
    if args.dedup == "exact":
        winners = dd.exact_dedup(filtered).select(
            F.col("keep_doc_id").alias("doc_id")
        )
        deduped = filtered.join(winners, "doc_id")
    elif args.dedup == "paragraph":
        # REWRITE: the reconstructed body (first-occurrence paragraphs
        # only) replaces the original text
        kept = dd.paragraph_dedup(
            filtered, unit_words=None, emit_text=True
        ).filter(F.col("n_kept") > 0)
        deduped = kept.select(
            "doc_id", F.col("kept_text").alias("text")
        ).join(filtered.drop("text"), "doc_id")
    elif args.dedup == "span":
        rewritten = dd.span_dedup_rewrite(filtered).filter(
            F.col("n_tokens") > F.col("n_removed")
        )
        deduped = rewritten.join(
            filtered.drop("text"), "doc_id"
        )  # rewritten text replaces the original
    else:
        deduped = filtered
    # one persist point: everything downstream (counts, shard map,
    # curated write, report) reuses the filter+dedup lineage instead
    # of recomputing its shuffles 4-5 times
    deduped = deduped.persist()
    n_deduped = deduped.count()

    # --- byte-balanced shards + partitioned write: ONE per-doc shard
    # map (persisted), equi-joined on doc_id (never a range join); the
    # per-shard report is its groupBy
    shard_ids = doc_shard_ids(
        deduped, shard_bytes=args.shard_bytes
    ).persist()
    curated = deduped.join(
        shard_ids.select("doc_id", "shard_id"), "doc_id"
    )
    curated.repartition(F.col("shard_id")).write.mode(
        args.write_mode
    ).partitionBy("shard_id").parquet(args.output)

    shard_map = shard_ids.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n").cast("long").alias("n_bytes"),
        F.min("doc_id").alias("first_doc_id"),
        F.max("doc_id").alias("last_doc_id"),
    )
    report = shard_map.withColumn("n_input", F.lit(n_input)).withColumn(
        "n_filtered", F.lit(n_filtered)
    ).withColumn("n_deduped", F.lit(n_deduped))
    report.write.mode(args.write_mode).parquet(args.report)
    n_shards = shard_ids.select("shard_id").distinct().count()
    print(
        f"curation complete: {n_input} -> {n_filtered} (filter) -> "
        f"{n_deduped} (dedup) over {n_shards} shards",
        file=sys.stderr,
    )
    if not preexisting:
        spark.stop()


if __name__ == "__main__":
    main()
