"""Production link-graph job — crawl-graph analytics over a
Common-Crawl-style pages table, composed from the driver-contract
operators.

    spark-submit --py-files engine.zip jobs/linkgraph_job.py \
        --input /path/documents/  (or an Iceberg table via --table) \
        --links /path/links/ --ranks /path/ranks/ --report /path/report/ \
        [--level host|url] [--iterations N] [--damping D] \
        [--anchors /path/anchors/ --anchor-k K] [--partitions N]

Build engine.zip with:  python -m zipfile -c engine.zip delphi_pdf_parser_spark

Where the package is importable on executors when their Python daemon
starts (installed, or its parent directory on PYTHONPATH; not through
--py-files, which reach sys.path only later), add
``--conf spark.python.daemon.module=delphi_pdf_parser_spark.sparkdaemon``:
reused Python workers then skip re-reading the zip directories on
sys.path at every task (see ``delphi_pdf_parser_spark/sparkdaemon.py``).
Elsewhere leave it out; a daemon that cannot import fails every task.

Pipeline: scan (url, html) -> ``extract_links`` (one mapInPandas pass,
map-only) -> persist the URL-level edge list -> optionally roll up to
the eTLD+1 host graph -> PageRank (+ degrees, joined into one ranking
table) -> parquet sinks for links, ranks, and optionally the top-k
anchor-text index, plus a one-row report. Reruns are idempotent under
the default overwrite mode. The edge list is written BEFORE the
iterative stage so a failed PageRank resumes from the materialized
links table (pass it back in with ``--links-input``).
"""

from __future__ import annotations

import argparse
import sys


def main(argv=None):
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet path of the pages table")
    src.add_argument("--table", help="catalog table name (e.g. Iceberg)")
    src.add_argument(
        "--links-input",
        help="resume: previously written links parquet (skips extraction)",
    )
    ap.add_argument("--links", help="output parquet for the edge list")
    ap.add_argument(
        "--annotations",
        help="also write the full single-scan web-annotations table "
        "(links + metadata + tables + JSON-LD) to this path and derive "
        "the edge list from it — one corpus scan total",
    )
    ap.add_argument("--ranks", required=True)
    ap.add_argument("--report", required=True)
    ap.add_argument("--anchors", help="optional anchor-text index output")
    ap.add_argument("--anchor-k", type=int, default=3)
    ap.add_argument("--level", choices=("host", "url"), default="host")
    ap.add_argument("--iterations", type=int, default=10)
    ap.add_argument("--damping", type=float, default=0.85)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument(
        "--tol",
        type=float,
        default=None,
        help="L1 convergence early-stop (default: fixed iterations)",
    )
    ap.add_argument(
        "--no-encode-ids",
        action="store_true",
        help="skip the int64 node-id dictionary (production default "
        "keeps it: URL-string keys would ride every iteration's "
        "node-table exchange)",
    )
    ap.add_argument(
        "--write-mode", choices=("overwrite", "append"), default="overwrite"
    )
    args = ap.parse_args(argv)
    if not args.links_input and not args.links:
        ap.error("--links is required unless resuming via --links-input")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from delphi_pdf_parser_spark.operators.graphs import (
        anchor_topk,
        degree_table,
        extract_links,
        host_graph,
        pagerank,
    )

    preexisting = SparkSession.getActiveSession() is not None
    spark = SparkSession.builder.appName("link-graph").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    if args.partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.partitions))

    if args.links_input:
        links = spark.read.parquet(args.links_input)
        n_pages = -1
    else:
        if args.table:
            pages = spark.read.table(args.table)
        else:
            pages = spark.read.parquet(args.input)
        n_pages = pages.count()
        if args.annotations:
            from delphi_pdf_parser_spark.operators.webannotations import (
                extract_web_annotations,
            )

            ann = extract_web_annotations(pages)
            # ONE corpus scan: the annotations table is the
            # materialization; the edge list explodes out of it
            ann.write.mode(args.write_mode).parquet(args.annotations)
            ann = spark.read.parquet(args.annotations)
            links = ann.select(
                F.col("url").alias("src"),
                F.explode("links").alias("l"),
            ).select(
                "src",
                F.col("l.dst").alias("dst"),
                F.col("l.anchor").alias("anchor"),
                F.col("l.nofollow").alias("nofollow"),
            )
        else:
            links = extract_links(pages)
        # materialize the edge list: the iterative stage resumes from
        # this table instead of re-running extraction
        links.write.mode(args.write_mode).parquet(args.links)
        links = spark.read.parquet(args.links)
    n_links = links.count()

    # nofollow edges carry no endorsement at either level (anchors keep
    # them out too, inside anchor_topk)
    followed = (
        links.filter(~F.col("nofollow"))
        if "nofollow" in links.columns
        else links
    )
    if args.level == "host":
        hg = host_graph(followed)
        edges = hg.select(
            F.col("src_domain").alias("src"),
            F.col("dst_domain").alias("dst"),
        )
    else:
        edges = followed.select("src", "dst")

    ranks = pagerank(
        edges,
        iterations=args.iterations,
        damping=args.damping,
        encode_ids=not args.no_encode_ids,
        tol=args.tol,
    )
    degrees = degree_table(edges)
    ranking = ranks.join(degrees, "node")
    ranking.write.mode(args.write_mode).parquet(args.ranks)

    if args.anchors:
        anchor_topk(links, k=args.anchor_k).write.mode(
            args.write_mode
        ).parquet(args.anchors)

    n_nodes = ranking.count()
    report = spark.createDataFrame(
        [(n_pages, n_links, n_nodes, args.level, args.iterations)],
        "n_pages long, n_links long, n_nodes long, level string, "
        "iterations int",
    )
    report.write.mode(args.write_mode).parquet(args.report)
    print(
        f"link-graph complete: {n_pages} pages -> {n_links} links -> "
        f"{n_nodes} {args.level}-level nodes ranked",
        file=sys.stderr,
    )
    if not preexisting:
        spark.stop()


if __name__ == "__main__":
    main()
