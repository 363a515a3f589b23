"""Parity pins for the vectorized XXH64 (xxh64.py) and the NumPy
SimHash/MinHash signature paths built on it.

These hashes ARE the results of simhash_near_dups / minhash_lsh —
any drift from the JVM implementations is an oracle break, so the
pins fuzz byte-level parity against ``F.xxhash64`` itself and signature
parity against the pre-r8 explode+aggregate formulation.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from pyspark.sql import functions as F

from delphi_pdf_parser_spark.xxh64 import (
    xxh64,
    xxh64_ints,
    xxh64_longs,
    xxh64_many,
)


def _signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def test_xxh64_scalar_matches_spark_strings(spark):
    random.seed(20240822)
    cases = ["", "hello", "x" * 31, "y" * 32, "z" * 100, "\t", " a b "]
    for _ in range(150):
        n = random.randint(0, 64)
        cases.append(
            "".join(
                chr(
                    random.choice(
                        [random.randint(32, 126), random.randint(0xA0, 0x2FFF)]
                    )
                )
                for _ in range(n)
            )
        )
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for c in cases:
        assert _signed(xxh64(c.encode("utf-8"), 42)) == got[c], repr(c)


def test_xxh64_many_matches_scalar_all_lengths():
    random.seed(7)
    cases = [b""] + [
        bytes(random.randrange(256) for _ in range(n)) for n in range(1, 120)
    ]
    vec = xxh64_many(cases)
    ref = np.array([xxh64(c) for c in cases], dtype=np.uint64)
    assert (vec == ref).all()


def test_xxh64_folded_long_int_matches_spark(spark):
    random.seed(3)
    vals = [0, 1, -1, 2**62, -(2**62)] + [
        random.randint(-(2**63), 2**63 - 1) for _ in range(100)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "h long")
    rows = df.select(
        "h",
        F.xxhash64("h").alias("single"),
        *[F.xxhash64(F.col("h"), F.lit(i)).alias(f"s{i}") for i in range(3)],
    ).collect()
    v_u = np.array([r["h"] for r in rows], dtype=np.int64).view(np.uint64)
    single = xxh64_longs(v_u, np.uint64(42)).view(np.int64)
    assert (single == np.array([r["single"] for r in rows])).all()
    inner = xxh64_longs(v_u, np.uint64(42))
    for i in range(3):
        mine = xxh64_ints(
            np.full(len(rows), np.uint64(i), dtype=np.uint64), inner
        ).view(np.int64)
        got = np.array([r[f"s{i}"] for r in rows], dtype=np.int64)
        assert (mine == got).all(), f"seed column {i}"


@pytest.fixture
def edge_docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "THE QUICK brown FOX"),
        (2, ""),
        (3, "   "),
        (4, "\tword\tafter\ttabs\t"),
        (5, "unicode töken straße 中文 ÉTÉ"),
        (6, "a " * 300),
        (7, None),
        (8, "xy\fz\rq\nw"),
        (9, "single"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _aggregate_simhash(docs) -> dict:
    """Reference signatures: the explode + packed-lane aggregate that
    the mapInArrow simhash replaced."""
    lane_cap = (1 << 20) - 1
    toks = docs.select(
        "doc_id",
        F.slice(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+"), 1, lane_cap
        ).alias("toks"),
    )
    exploded = toks.select(
        "doc_id", F.explode("toks").alias("t")
    ).select("doc_id", F.xxhash64("t").alias("h"))
    aggs = [F.count("*").alias("n")] + [
        F.sum(
            F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))
        ).alias(f"c{b}")
        for b in range(64)
    ]
    counts = exploded.groupBy("doc_id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for b in range(64):
        bit = (
            F.when(F.col(f"c{b}") * 2 >= F.col("n"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
        )
        sig = sig.bitwiseOR(F.shiftleft(bit, b))
    return {
        r["doc_id"]: r["simhash"]
        for r in counts.select("doc_id", sig.alias("simhash")).collect()
    }


def test_simhash_matches_aggregate_formulation(spark, edge_docs):
    """The mapInArrow+NumPy simhash must equal the explode + packed-lane
    aggregate it replaced, bit for bit, including whitespace/unicode
    edges and the null-text drop rule."""
    from delphi_pdf_parser_spark.operators.dedup import simhash

    got = {
        r["doc_id"]: r["simhash"] for r in simhash(edge_docs).collect()
    }
    assert got == _aggregate_simhash(edge_docs)


def test_simhash_bounded_groups_match_aggregate_formulation(spark):
    """One Arrow batch of large documents is cut into several bounded
    token groups (one document alone past the 65,536-token bound, two
    sharing a group, a null and an empty text between): the signatures
    still equal the aggregate's."""
    from delphi_pdf_parser_spark.operators.dedup import simhash

    rnd = random.Random(11)

    def text(n):
        return " ".join(f"w{rnd.randrange(5000)}" for _ in range(n))

    rows = [
        (0, text(70_000)),
        (1, None),
        (2, text(50_000)),
        (3, text(50_000)),
        (4, ""),
        (5, text(20_000)),
        (6, "tiny"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    got = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sorted(got) == [0, 2, 3, 4, 5, 6]  # "" splits to one token
    assert got == _aggregate_simhash(docs)


def test_minhash_signature_matches_aggregate_formulation(spark, edge_docs):
    """The in-pass NumPy MinHash signature must equal the old explode +
    32-way min(F.xxhash64(h, lit(i))) aggregate over the same shingle
    hash table."""
    from delphi_pdf_parser_spark.operators.dedup import (
        _shingle_hash_table,
        minhash_signatures,
    )

    num_hashes = 8
    sh = _shingle_hash_table(edge_docs, 3)
    exploded = sh.select("doc_id", F.explode("shingles").alias("h"))
    mins = exploded.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )
    ref = {
        r["doc_id"]: [r[f"h{i}"] for i in range(num_hashes)]
        for r in mins.collect()
    }
    got = {
        r["doc_id"]: list(r["signature"])
        for r in minhash_signatures(
            edge_docs, num_hashes=num_hashes
        ).collect()
    }
    assert got == ref
