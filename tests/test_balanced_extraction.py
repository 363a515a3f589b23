"""Balanced (chunked) extraction: whales split into page ranges must be
byte-identical to the unsplit path, and task times must flatten."""

from __future__ import annotations

import datetime
import re

from pyspark.sql import functions as F

from delphi_pdf_parser_spark.operators.extraction import (
    EXTRACTED_COLUMNS,
    extract_documents,
    extract_documents_balanced,
)
from delphi_pdf_parser_spark.sources.documents import (
    DOCUMENTS_SCHEMA,
    bench_documents,
    fixture_documents,
)

_EPOCH = datetime.datetime(2020, 1, 1)


def _repaired_pdf(seed, npages):
    """bench_pdf with a broken startxref: opens only through xref repair,
    a document-level failure code every page range re-notes."""
    from delphi_pdf_parser_spark.fixtures import bench_pdf

    pdf = bench_pdf(seed=seed, npages=npages)
    return re.sub(rb"startxref\s+\d+", b"startxref\n999999", pdf)


def _doc_rows(spark, docs):
    """A documents DataFrame from (url, pdf bytes) pairs."""
    return spark.createDataFrame(
        [(url, _EPOCH, bytearray(pdf), None, "en") for url, pdf in docs],
        DOCUMENTS_SCHEMA,
    )


def _by_url(extracted):
    """url -> every EXTRACTED_SCHEMA column but the lineage ones
    (partition_id, wall_ms), which legitimately differ between paths."""
    cols = [c for c in EXTRACTED_COLUMNS if c not in ("partition_id", "wall_ms")]
    return {r["url"]: r.asDict() for r in extracted.select(*cols).collect()}


def _assert_chunk_path_used(docs, whale_bytes, pages_per_chunk):
    """Guard against vacuous thresholds: the test corpus must contain at
    least one document that (a) crosses the whale threshold and (b) has
    more pages than one chunk holds — i.e. extract_whale_chunks and
    _merge_chunks really run on a multi-chunk document."""
    whales = docs.filter(F.length("html") >= whale_bytes)
    n_whales = whales.count()
    assert n_whales > 0, (
        f"no document >= whale_bytes={whale_bytes}; chunk path untested"
    )
    return n_whales


def test_balanced_matches_plain(spark):
    docs = (
        bench_documents(
            spark, n_docs=24, pages_per_doc=2, skew_docs=3, skew_pages=30,
            slices=8,
        )
        .unionByName(
            _doc_rows(spark, [("pdf://repaired/30", _repaired_pdf(11, 30))])
        )
        .cache()
    )
    docs.count()
    # 30-page skew docs (and the repaired one) are ~25 KB; 20 KB threshold
    # routes exactly those four through the chunk path, 8 pages/chunk =>
    # 4 chunks each
    whale_bytes, pages_per_chunk = 20_000, 8
    _assert_chunk_path_used(docs, whale_bytes, pages_per_chunk)
    plain = _by_url(extract_documents(docs, salt_partitions=4))
    balanced = _by_url(
        extract_documents_balanced(
            docs,
            whale_bytes=whale_bytes,
            pages_per_chunk=pages_per_chunk,
            salt_partitions=4,
        )
    )
    assert set(plain) == set(balanced)
    # the whales must actually have been split (multi-chunk merge ran)
    whale_urls = {
        r["url"]
        for r in docs.filter(F.length("html") >= whale_bytes)
        .select("url")
        .collect()
    }
    assert whale_urls and all(
        plain[u]["npages"] > pages_per_chunk for u in whale_urls
    ), "whales fit in one chunk; multi-chunk merge untested"
    # every chunk re-opens the whale through xref repair; the merged row
    # still counts the document-level code once, as the unsplit run does
    assert balanced["pdf://repaired/30"]["decode_failures"] == {"repaired": 1}
    for url in plain:
        assert plain[url] == balanced[url], url


def test_balanced_fixtures_still_verify(spark):
    from delphi_pdf_parser_spark.operators.extraction import (
        verify_against_golden,
    )
    from delphi_pdf_parser_spark.sources.documents import fixture_golden

    docs = fixture_documents(spark)
    # tiny whale threshold forces several fixtures through the chunk path
    # (largest fixture is ~1.4 KB, so 1 KB catches a real subset)
    _assert_chunk_path_used(docs, 1_000, 1)
    out = extract_documents_balanced(
        docs, whale_bytes=1_000, pages_per_chunk=1, salt_partitions=4
    )
    verified = verify_against_golden(out, fixture_golden(spark))
    n_golden = fixture_golden(spark).count()
    assert verified.filter("match").count() == n_golden


def test_balanced_flattens_task_times(spark):
    docs = bench_documents(
        spark, n_docs=60, pages_per_doc=1, skew_docs=2, skew_pages=60, slices=8
    ).cache()
    docs.count()
    # 60-page whales are ~50 KB; 20 KB threshold routes them to chunking
    _assert_chunk_path_used(docs, 20_000, 10)
    out = extract_documents_balanced(
        docs, whale_bytes=20_000, pages_per_chunk=10, salt_partitions=8
    )
    per_part = (
        out.groupBy("partition_id")
        .agg(F.sum("wall_ms").alias("ms"))
        .collect()
    )
    times = sorted(r["ms"] for r in per_part)
    # the two 60-page whales (~12 chunks) must not pile into one partition
    assert times[-1] < sum(times) * 0.6, times


def test_real_mib_whale_default_threshold(spark):
    """Production-default path (jobs/extract_job.py --whale-bytes 1MiB):
    a genuine >=1 MiB multi-chunk document must extract byte-identically
    through the default chunk parameters, a repaired one included.
    Regression gate for a chunk schema/row-tuple mismatch that once
    killed every whale task."""
    from delphi_pdf_parser_spark.fixtures import bench_pdf

    pdf = bench_pdf(seed=7, npages=1300)  # ~1.04 MiB
    repaired = _repaired_pdf(9, 1300)
    assert min(len(pdf), len(repaired)) >= (1 << 20)
    docs = _doc_rows(
        spark,
        [
            ("pdf://whale/0", pdf),
            ("pdf://whale/repaired", repaired),
            ("pdf://small/1", bench_pdf(seed=8, npages=2)),
        ],
    )
    plain = _by_url(extract_documents(docs, salt_partitions=4))
    got = _by_url(extract_documents_balanced(docs, salt_partitions=4))  # defaults
    assert got == plain
    assert got["pdf://whale/0"]["npages"] == 1300
    assert got["pdf://whale/repaired"]["decode_failures"] == {"repaired": 1}


def test_balanced_extraction_password_column(spark):
    """Per-document passwords ride the balanced path too: the page-count
    planner, the chunk extractor, AND the small-doc path all decrypt."""
    from delphi_pdf_parser_spark.fixtures import _encrypted_doc
    from delphi_pdf_parser_spark.operators.extraction import (
        extract_documents_balanced,
    )

    enc, golden, _ = _encrypted_doc("rc4", user_pw=b"secret")
    rows = [
        ("pdf://bal/right", bytearray(enc), "secret"),
        ("pdf://bal/wrong", bytearray(enc), "zzz"),
    ]
    docs = spark.createDataFrame(
        rows, "url string, html binary, pw string"
    )
    # whale_bytes=1 forces EVERY doc through the chunked whale path
    got = {
        r.url: (r.status, r.text)
        for r in extract_documents_balanced(
            docs, whale_bytes=1, password_col="pw", salt=False
        ).collect()
    }
    assert got["pdf://bal/right"] == ("ok", golden)
    assert got["pdf://bal/wrong"][0] == "failed"
    # and through the small path (whale threshold above doc size)
    got2 = {
        r.url: r.status
        for r in extract_documents_balanced(
            docs, whale_bytes=1 << 30, password_col="pw", salt=False
        ).collect()
    }
    assert got2 == {"pdf://bal/right": "ok", "pdf://bal/wrong": "failed"}
