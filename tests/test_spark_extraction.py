"""End-to-end Spark tests: documents -> mapInPandas extraction -> verify
against goldens via broadcast join; metrics; anti-join resume; salting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delphi_pdf_parser_spark.operators.extraction import (
    extract_documents,
    metrics_table,
    resume_anti_join,
    salt_by_size,
    verify_against_golden,
)
from delphi_pdf_parser_spark.sources.documents import (
    bench_documents,
    fixture_documents,
    fixture_golden,
)


@pytest.fixture(scope="module")
def extracted(spark):
    docs = fixture_documents(spark)
    return extract_documents(docs, salt_partitions=8).cache()


def test_all_goldens_match(spark, extracted):
    golden = fixture_golden(spark)
    verified = verify_against_golden(extracted, golden)
    n_golden = golden.count()
    n_match = verified.filter("match").count()
    mismatches = (
        verified.filter(~F.col("match")).select("url").limit(5).collect()
    )
    assert n_match == n_golden, f"mismatched urls: {mismatches}"


def test_failed_documents_surfaced(spark, extracted):
    failed = extracted.filter(F.col("status") == "failed")
    rows = {r["url"]: r for r in failed.collect()}
    assert "pdf://fixture/encrypted_password" in rows
    assert rows["pdf://fixture/encrypted_password"]["err"] == "needs_password"


def test_metrics_table_and_agg(spark, extracted):
    m = metrics_table(extracted, input_split="fixtures")
    agg = (
        m.groupBy("status")
        .agg(F.count("*").alias("n"), F.sum("n_objects").alias("total_objects"))
        .collect()
    )
    by_status = {r["status"]: r["n"] for r in agg}
    assert by_status.get("ok", 0) >= 40
    assert by_status.get("repaired", 0) >= 1
    assert by_status.get("failed", 0) >= 1


def test_resume_anti_join(spark, extracted):
    docs = fixture_documents(spark)
    done = metrics_table(extracted.limit(10))
    remaining = resume_anti_join(docs, done)
    assert remaining.count() == docs.count() - 10


def test_salting_repartitions_before_udf(spark):
    docs = fixture_documents(spark)
    salted = salt_by_size(docs.select("url", "html"), partitions=8)
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan  # explicit repartition survives planning


def test_bench_corpus_roundtrip(spark):
    docs = bench_documents(spark, n_docs=8, pages_per_doc=2)
    out = extract_documents(docs, salt_partitions=4)
    rows = out.select("status", "npages", F.length("text").alias("len")).collect()
    assert all(r["status"] == "ok" for r in rows)
    assert all(r["len"] > 100 for r in rows)


def test_auto_partitions_scales_with_data(spark):
    from delphi_pdf_parser_spark.operators.extraction import (
        _TARGET_TASK_BYTES,
        _auto_partitions,
        salt_by_size,
    )

    # pure math: floor at parallelism, grow with bytes
    assert _auto_partitions(0, 32) == 32
    assert _auto_partitions(10 << 20, 32) == 32
    assert _auto_partitions(100 * (1 << 40), 8000) == (
        (100 * (1 << 40) + _TARGET_TASK_BYTES - 1) // _TARGET_TASK_BYTES
    )
    # live: a tiny DataFrame salts to >=1 partition without error and the
    # stats probe doesn't throw
    df = spark.createDataFrame([("u", b"%PDF-x")], "url string, html binary")
    assert salt_by_size(df).rdd.getNumPartitions() >= 1


def test_extract_documents_password_column(spark):
    """Per-document passwords ride an optional column (the production
    shape: url->password side table joined onto the corpus). Right
    password extracts; wrong/missing degrade to needs_password rows."""
    from delphi_pdf_parser_spark.fixtures import _encrypted_doc
    from delphi_pdf_parser_spark.operators.extraction import (
        extract_documents,
    )

    enc, golden, _ = _encrypted_doc("rc4", user_pw=b"secret")
    plain_golden = golden  # same label content

    rows = [
        ("pdf://enc/right", bytearray(enc), "secret"),
        ("pdf://enc/wrong", bytearray(enc), "nope"),
        ("pdf://enc/none", bytearray(enc), None),
    ]
    docs = spark.createDataFrame(
        rows, "url string, html binary, pw string"
    )
    got = {
        r.url: (r.status, r.err, r.text)
        for r in extract_documents(
            docs, salt=False, password_col="pw"
        ).collect()
    }
    assert got["pdf://enc/right"] == ("ok", "", plain_golden)
    assert got["pdf://enc/wrong"][0] == "failed"
    assert got["pdf://enc/wrong"][1] == "needs_password"
    assert got["pdf://enc/none"][1] == "needs_password"
    # no password column: existing call shape untouched
    got2 = extract_documents(
        docs.select("url", "html"), salt=False
    ).collect()
    assert all(r.err == "needs_password" for r in got2)


def test_stat_documents_matches_pdfcore_stat_document(spark):
    """The stat pass through the Spark UDF equals single-process
    pdfcore.stat_document on every fixture, for every stat column but
    wall_ms (including err and all 8 /Info fields)."""
    from delphi_pdf_parser_spark.operators.extraction import (
        INFO_FIELDS,
        STAT_COLUMNS,
        stat_documents,
    )
    from delphi_pdf_parser_spark.pdfcore import stat_document

    docs = fixture_documents(spark)
    pdfs = {r.url: bytes(r.html) for r in docs.select("url", "html").collect()}
    assert len(pdfs) == 77
    got = {
        r.url: r.asDict()
        for r in stat_documents(docs, prefilter=False).collect()
    }
    assert set(got) == set(pdfs)
    assert all(list(row) == STAT_COLUMNS for row in got.values())
    for url, pdf in pdfs.items():
        res = stat_document(pdf)
        want = {
            "url": url,
            "npages": res.npages,
            "n_objects": res.n_objects,
            "status": res.status,
            "err": res.error,
            **{col: res.metadata.get(key) for col, key in INFO_FIELDS},
        }
        assert {k: v for k, v in got[url].items() if k != "wall_ms"} == want, url
