"""The extraction operator: documents -> (extracted, metrics).

Spark-side design per SURVEY.md §2.B / §4:

- cheap JVM-side pre-filter (``%PDF-`` magic) BEFORE any Python: Catalyst
  evaluates it in whole-stage codegen, so non-PDF rows never cross the
  Arrow boundary
- column pruning: only (url, html[, password]) are read for the UDF;
  its page-range columns are added after the salt exchange
- url-hash salting: UDF cost scales with document size, which AQE
  cannot see (it balances bytes, not Python-seconds). ``repartition`` on
  ``xxhash64(url)`` spreads giant PDFs across executors BEFORE the
  extraction stage; ``extract_documents_balanced`` further splits whales
  into page-range chunks
- one vectorized ``mapInPandas`` UDF does the whole §2.A pipeline per
  Arrow batch; zero per-row Python at the Spark level. Every row it sees
  is a (url, html, password, page_lo, page_hi) page range: the plain,
  whale-chunk, stat and streaming paths differ only in the range columns
- per-partition lineage: each output row carries partition_id +
  input-split tag; the metrics table enables checkpoint-resume via
  left-anti join on url
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# the 8 /Info fields openfile1 surfaces (src/digPdfViewer.pas:236-312),
# as (column, /Info key)
INFO_FIELDS = (
    ("title", "Title"),
    ("author", "Author"),
    ("producer", "Producer"),
    ("subject", "Subject"),
    ("creator", "Creator"),
    ("keywords", "Keywords"),
    ("creation_date", "CreationDate"),
    ("mod_date", "ModDate"),
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("text", StringType()),
        StructField("pages", ArrayType(StringType())),
        StructField("npages", IntegerType()),
        StructField("n_objects", LongType()),
        StructField("status", StringType()),
        StructField("err", StringType()),
        StructField("decode_failures", MapType(StringType(), LongType())),
        StructField("wall_ms", LongType()),
        StructField("partition_id", IntegerType()),
    ]
    + [StructField(col, StringType()) for col, _ in INFO_FIELDS]
)
EXTRACTED_COLUMNS = EXTRACTED_SCHEMA.fieldNames()

# the UDF's rows: an extracted row plus the start of its page range, which
# orders a whale's ranges in _merge_chunks
RANGE_SCHEMA = StructType(
    EXTRACTED_SCHEMA.fields + [StructField("page_lo", IntegerType())]
)

STAT_COLUMNS = ["url", "npages", "n_objects", "status", "err"] + [
    col for col, _ in INFO_FIELDS
] + ["wall_ms"]

_ALL_PAGES = 2**31 - 1  # open page_hi: pdfcore clamps it to npages


def _extract_ranges(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The mapInPandas body. Each row is one (url, html, password,
    page_lo, page_hi) page range, extracted by one pdfcore call; the
    /Info fields are read only for ranges that start at page 0. Imports
    stay inside so the function pickles cheaply to executors; pdfcore
    loads once per worker."""
    from pyspark import TaskContext

    from delphi_pdf_parser_spark.pdfcore.extract import extract_text_pages

    tc = TaskContext.get()
    pid = tc.partitionId() if tc is not None else -1
    for b in batches:
        rows = []
        for url, html, pw, lo, hi in zip(
            b["url"], b["html"], b["password"], b["page_lo"], b["page_hi"]
        ):
            lo = int(lo)
            res = extract_text_pages(
                bytes(html) if html is not None else b"",
                lo,
                int(hi),
                want_metadata=lo == 0,
                password=pw or b"",
            )
            ok = res.status != "failed"
            meta = res.metadata or {}
            rows.append(
                (
                    url,
                    res.text if ok else None,
                    res.pages if ok else None,
                    res.npages,
                    res.n_objects,
                    res.status,
                    res.error,
                    {k: int(v) for k, v in res.failures.items()},
                    res.wall_ms,
                    pid,
                    *(meta.get(key) for _, key in INFO_FIELDS),
                    lo,
                )
            )
        yield pd.DataFrame(rows, columns=RANGE_SCHEMA.fieldNames())


def _password(df: DataFrame):
    """The ``password`` column, or a null one for password-less input."""
    if "password" in df.columns:
        return F.col("password")
    return F.lit(None).cast("string")


def _extract_pages(df: DataFrame, page_lo, page_hi) -> DataFrame:
    """The one extraction stage over (url, html[, password]) rows, for the
    page range [page_lo, page_hi) given as ints or columns. The range and
    the null password of password-less input are added here, after any
    exchange, so shuffles carry only the document columns."""
    return df.select(
        "url",
        "html",
        _password(df).alias("password"),
        F.lit(page_lo).cast("int").alias("page_lo"),
        F.lit(page_hi).cast("int").alias("page_hi"),
    ).mapInPandas(_extract_ranges, RANGE_SCHEMA)


def stat_documents(documents: DataFrame, prefilter: bool = True) -> DataFrame:
    """The cheap stat-pass job (openfile1, SURVEY §3.2): metadata + page
    count per url with NO content-stream decode (the empty page range
    [0, 0)) — an order of magnitude cheaper than extraction, so no
    salting stage (its cost is xref-bound, roughly uniform in document
    size)."""
    df = _pdf_rows(documents, None, prefilter)
    return _extract_pages(df, 0, 0).select(*STAT_COLUMNS)


def prefilter_pdfs(
    documents: DataFrame, extra_cols: tuple | list = ()
) -> DataFrame:
    """JVM-side magic-byte filter + projection (pushdown-friendly)."""
    return documents.select("url", "html", *extra_cols).filter(
        F.col("html").isNotNull()
        & (F.substring(F.col("html"), 1, 5) == F.lit(b"%PDF-"))
    )


_TARGET_TASK_BYTES = 256 << 20  # ~256 MB of raw documents per task


_MAX_AUTO_PARTITIONS = 1_000_000  # 100 TB / 256 MB ≈ 400k — leave headroom


def _auto_partitions(size_bytes: int, base_parallelism: int) -> int:
    """Scale the extraction-stage task count with DATA size, floored at
    the cluster's parallelism: at 100 TB a cores-only default would pull
    multi-GB Arrow batches through each python worker (OOM); at bench
    scale the floor keeps every core busy. Catalyst reports Long.MaxValue
    when statistics are unknown — treat anything absurd as unknown."""
    if size_bytes >= 1 << 60:
        size_bytes = 0
    by_size = (size_bytes + _TARGET_TASK_BYTES - 1) // _TARGET_TASK_BYTES
    return int(min(max(base_parallelism, by_size), _MAX_AUTO_PARTITIONS))


def salt_by_size(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Spread expensive (big) documents across partitions before the UDF.

    The salt is a deterministic hash of the url (not rand()) so re-runs
    place rows identically — required for checkpoint-resume semantics.
    ``partitions`` defaults to ``_auto_partitions`` of the plan's size
    estimate: one task per ~256 MB of input, floored at the default
    parallelism.
    """
    if not partitions:
        base = df.sparkSession.sparkContext.defaultParallelism
        try:
            # Catalyst's plan statistics: for parquet/Iceberg scans this is
            # the (filter-pruned) input size in bytes
            size = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:  # stats unavailable: fall back to parallelism
            size = 0
        partitions = _auto_partitions(size, base)
    # per-url hash: effectively-unique keys give multinomial balance
    # (coarse bucket+salt%k keys collide and leave partitions uneven);
    # giant documents land randomly, which with tasks ~= cores bounds the
    # whale-per-task count — per-row partition_id + wall_ms in the
    # metrics table keep the skew observable
    return df.repartition(partitions, F.xxhash64("url"))


def _pdf_rows(
    documents: DataFrame, password_col: str | None, prefilter: bool = True
) -> DataFrame:
    """(url, html[, password]) rows; a named password column is cast to
    string and renamed ``password``."""
    extra = []
    if password_col is not None:
        documents = documents.withColumn(
            "password", F.col(password_col).cast("string")
        )
        extra = ["password"]
    if prefilter:
        return prefilter_pdfs(documents, extra_cols=extra)
    return documents.select("url", "html", *extra)


def extract_documents(
    documents: DataFrame,
    salt_partitions: int | None = None,
    prefilter: bool = True,
    salt: bool = True,
    password_col: str | None = None,
) -> DataFrame:
    """documents(url, html, ...) -> extracted table (EXTRACTED_SCHEMA):
    every document is the one page range [0, all pages).

    salt_partitions defaults to ``_auto_partitions`` (see
    ``salt_by_size``): the Arrow/python-worker round trip has a per-task
    cost, so tasks ~= cores is the sweet spot for uniform corpora, and
    the url-hash salt spreads the giant-PDF tail across those tasks.

    ``password_col`` names an optional per-document password column
    (string; null/empty = unencrypted or empty-user-password docs) —
    the batch-engine equivalent of the reference GUI's password prompt
    (src/digPdfViewer.pas): join your url->password side table onto the
    corpus first, then point this at the column. Wrong/missing
    passwords degrade to status='failed', error='needs_password' rows
    in the metrics table, never a job failure.
    """
    df = _pdf_rows(documents, password_col, prefilter)
    if salt:
        df = salt_by_size(df, salt_partitions)
    return _extract_pages(df, 0, _ALL_PAGES).select(*EXTRACTED_COLUMNS)


def _count_pages_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def page_count(html: pd.Series, pw: pd.Series) -> pd.Series:
        from delphi_pdf_parser_spark.pdfcore.extract import count_pages_only

        out = []
        for data, p in zip(html, pw):
            try:
                out.append(count_pages_only(bytes(data), password=p or b""))
            except Exception:
                out.append(0)
        return pd.Series(out)

    return page_count


def _merge_chunks(key, g):  # (no type hints: pyspark infers the
    # grouped-map eval type from arity; partial hints only trigger a warning)
    """applyInPandas merge of one whale's page-range rows back into one
    document row: ranges concatenate in page order, failure counts sum
    (document-level codes come only from the page-0 range), and url,
    partition_id and the /Info columns are the page-0 range's. Arity-2
    grouped map: receives ONE group DataFrame per url and must RETURN a
    DataFrame (not yield)."""
    import pandas as pd  # noqa: F811 - executor-side import

    g = g.sort_values("page_lo")
    ok = (g["status"] != "failed").all()
    failures: dict = {}
    for m in g["decode_failures"]:
        for k, v in (m or {}).items():
            failures[k] = failures.get(k, 0) + int(v)
    row = g.iloc[0].to_dict()
    row.update(
        text="".join(g["text"]) if ok else None,
        pages=[p for ps in g["pages"] for p in ps] if ok else None,
        npages=int(g["npages"].max()),
        n_objects=int(g["n_objects"].max()),
        status=("repaired" if (g["status"] == "repaired").any() else "ok")
        if ok
        else "failed",
        err=next((e for e in g["err"] if e), ""),
        decode_failures=failures,
        wall_ms=int(g["wall_ms"].sum()),
    )
    return pd.DataFrame([row], columns=EXTRACTED_COLUMNS)


def extract_documents_balanced(
    documents: DataFrame,
    whale_bytes: int = 1 << 20,
    pages_per_chunk: int = 100,
    salt_partitions: int | None = None,
    salt: bool = True,
    password_col: str | None = None,
) -> DataFrame:
    """Skew-proof extraction: giant documents are split into page-range
    chunks that parallelize across tasks, then reassembled (page texts
    concatenate exactly — each page gets a fresh text device, so the
    per-range outputs are byte-identical to the unsplit run).

    Cost model: a whale is parsed once per chunk (xref + fonts re-read),
    trading ~15% redundant parse for document-level parallelism. With
    pages_per_chunk=100, a 2,000-page whale becomes 20 tasks instead of
    one 5-second straggler — this is what bounds max-task/median-task at
    the 100 TB scale where the corpus has heavy page-count tails.
    """
    base = _pdf_rows(documents, password_col)
    # salt=False is the bucketed-at-ingest production shape: the scan is
    # already balanced by url-hash, so the salting exchange is pure cost
    # (whale chunks below still repartition — they must, to spread one
    # document's chunks across tasks)
    small_out = extract_documents(
        base.filter(F.length("html") < whale_bytes),
        salt_partitions=salt_partitions,
        prefilter=False,
        salt=salt,
        password_col="password" if password_col is not None else None,
    )
    big_out = (
        extract_whale_chunks(
            base.filter(F.length("html") >= whale_bytes),
            pages_per_chunk=pages_per_chunk,
            partitions=salt_partitions,
        )
        .groupBy("url")
        .applyInPandas(_merge_chunks, EXTRACTED_SCHEMA)
    )
    return small_out.unionByName(big_out)


def extract_whale_chunks(
    big: DataFrame,
    pages_per_chunk: int = 100,
    partitions: int | None = None,
) -> DataFrame:
    """The chunk stage of balanced extraction: one RANGE_SCHEMA row per
    ``pages_per_chunk`` page range of each (url, html[, password]) row.
    Exposed separately so the CHUNK-LEVEL lineage (per-chunk
    partition_id + wall_ms) can feed the metrics table / skew evidence —
    after _merge_chunks a whale's summed wall_ms is attributed to one
    partition_id, which would misread as skew that the chunk spreading
    actually eliminated."""
    parts = (
        partitions or big.sparkSession.sparkContext.defaultParallelism
    )
    npages = _count_pages_udf()(F.col("html"), _password(big))
    chunks = (
        big.select(
            "url",
            "html",
            _password(big).alias("password"),
            # one range start per chunk; a page-less (failed) document
            # still gets the one range [0, pages_per_chunk)
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(npages - 1, F.lit(0)),
                    F.lit(pages_per_chunk),
                )
            ).alias("page_lo"),
        )
        # chunk-level repartition: a 2,000-page whale becomes 20 units of
        # work spread across the cluster (the whale bytes are duplicated
        # per chunk through this one exchange — whales are the tail, so
        # the duplication is small relative to the corpus)
        .repartition(parts, F.xxhash64("url", "page_lo"))
    )
    return _extract_pages(
        chunks, F.col("page_lo"), F.col("page_lo") + pages_per_chunk
    )


def metrics_table(extracted: DataFrame, input_split: str = "") -> DataFrame:
    """Lineage/metrics projection (FIXTURES.md table 3)."""
    return extracted.select(
        F.col("partition_id"),
        F.lit(input_split).alias("input_split"),
        F.col("url"),
        F.col("n_objects"),
        F.col("npages"),
        F.col("status"),
        F.col("decode_failures"),
        F.col("wall_ms"),
    )


def resume_anti_join(documents: DataFrame, done_metrics: DataFrame) -> DataFrame:
    """Checkpoint-resume: keep only documents whose url has no metrics row
    yet (left-anti join — SURVEY §2.B 'Set op (resume)')."""
    return documents.join(
        done_metrics.select("url").distinct(), on="url", how="left_anti"
    )


def verify_against_golden(extracted: DataFrame, golden: DataFrame) -> DataFrame:
    """Byte-identical gate as a DataFrame op: broadcast-join the (small)
    golden set and compare SHA-256 of the text."""
    g = F.broadcast(golden.select("url", F.col("sha256").alias("want_sha256")))
    return (
        extracted.withColumn("got_sha256", F.sha2(F.col("text"), 256))
        .join(g, "url", "inner")
        .withColumn("match", F.col("got_sha256") == F.col("want_sha256"))
    )


def write_extracted_partitioned(
    extracted: DataFrame, path: str, partition_by: tuple[str, ...] = ("status",)
) -> None:
    """Hive-partitioned parquet sink: downstream consumers that read one
    slice (status='ok' for training data, status='failed' for triage)
    scan ONLY that slice — partition pruning happens at planning time,
    before any file is opened. At corpus scale the ok/failed split is the
    most common read pattern for the extracted table."""
    extracted.write.mode("append").partitionBy(*partition_by).parquet(path)
