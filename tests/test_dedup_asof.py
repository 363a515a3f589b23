"""Round-2 operator fixes: simhash recall guarantee, as-of join row
atomicity, approx-variant flags."""

from __future__ import annotations

import datetime
import itertools
import os

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01")


def _doc_corpus(spark):
    # small synthetic corpus with deliberate near-dups: shared phrases
    # with k-token perturbations
    base = (
        "the quick brown fox jumps over the lazy dog while seven wizards "
        "brew strong potions beneath ancient oak trees near silver rivers"
    ).split()
    rows = []
    for i in range(24):
        toks = list(base)
        for j in range(i % 5):
            toks[(7 * j + i) % len(toks)] = f"tok{i}_{j}"
        rows.append((i, " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash_recall_guarantee(spark):
    """All pairs within max_hamming of each other must be returned —
    pigeonhole banding means zero false negatives inside the radius.
    Brute-force oracle over the full signature set."""
    from delphi_pdf_parser_spark.operators.dedup import (
        simhash,
        simhash_near_dups,
    )

    docs = _doc_corpus(spark)
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    for max_h in (3, 8):
        want = {
            (a, b)
            for a, b in itertools.combinations(sorted(sigs), 2)
            if bin((sigs[a] ^ sigs[b]) & 0xFFFFFFFFFFFFFFFF).count("1")
            <= max_h
        }
        got = {
            (r["doc_a"], r["doc_b"])
            for r in simhash_near_dups(docs, max_hamming=max_h).collect()
        }
        assert want <= got or want == got, (
            f"max_hamming={max_h}: dropped pairs {want - got}"
        )
        # banding may not create false positives beyond the radius either
        # (the hamming filter runs after candidate generation)
        assert got == want, f"max_hamming={max_h}: extras {got - want}"


def test_asof_join_atomic_right_row(spark):
    """A right row with a NULL in one value column must be carried
    atomically: the NULL stays NULL, not backfilled from an older row."""
    from delphi_pdf_parser_spark.operators.asof import as_of_join

    ts = lambda s: datetime.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, ts(10), "L1"), (1, ts(30), "L2")],
        "k int, lts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, ts(5), 100, 1.5),  # older row: both values present
            (1, ts(20), 200, None),  # latest row before L2: price NULL
        ],
        "k int, rts timestamp, orderkey int, price double",
    )
    out = {
        r["tag"]: (r["asof_orderkey"], r["asof_price"])
        for r in as_of_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            right_values=["orderkey", "price"],
        ).collect()
    }
    assert out["L1"] == (100, 1.5)
    # the broken per-column carry would stitch (200, 1.5); the latest
    # right row is (200, NULL) and must arrive whole
    assert out["L2"] == (200, None)


def test_asof_join_still_matches_duckdb_oracle(spark):
    """The events_asof_orders query path through the struct-carry rewrite
    must still match the oracle (exercised at sf0.01)."""
    import duckdb

    import __spark_entry__ as E

    sdf = E.queries()["events_asof_orders"](spark, SF_DIR).toPandas()
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    ddf = con.execute(E.oracle_sql()["events_asof_orders"]).fetch_df()
    assert len(sdf) == len(ddf)
    cols = sorted(sdf.columns)
    a = sorted(map(str, sdf[cols].itertuples(index=False, name=None)))
    b = sorted(map(str, ddf[cols].itertuples(index=False, name=None)))
    assert a == b


def test_approx_variants_close_to_exact(spark):
    from delphi_pdf_parser_spark.operators.relational import (
        distinct_users_per_type,
        value_quantiles,
    )

    exact_d = {
        r["event_type"]: r["n_users"]
        for r in distinct_users_per_type(spark, SF_DIR, exact=True).collect()
    }
    approx_d = {
        r["event_type"]: r["n_users"]
        for r in distinct_users_per_type(spark, SF_DIR, exact=False).collect()
    }
    assert set(exact_d) == set(approx_d)
    for t, n in exact_d.items():
        assert abs(approx_d[t] - n) <= max(2, 0.05 * n), (t, n, approx_d[t])

    exact_q = {
        r["event_type"]: (r["p50"], r["p90"], r["p99"])
        for r in value_quantiles(spark, SF_DIR, exact=True).collect()
    }
    approx_q = {
        r["event_type"]: (r["p50"], r["p90"], r["p99"])
        for r in value_quantiles(spark, SF_DIR, exact=False).collect()
    }
    assert set(exact_q) == set(approx_q)
    for t in exact_q:
        for e, a in zip(exact_q[t], approx_q[t]):
            # approx returns a nearest data value, exact interpolates:
            # allow a small relative gap
            assert abs(a - e) <= max(0.05, 0.05 * abs(e)), (t, e, a)


def test_span_dup_stats_hand_computed(spark):
    """Exact k-token window duplication census: hand-built corpus where
    doc 1 repeats doc 0's opening 6 tokens (two duplicated 5-windows),
    doc 2 is a full copy of doc 0 (every window duplicated -> drop),
    doc 3 shares nothing."""
    from delphi_pdf_parser_spark.operators.dedup import span_dup_stats

    t0 = "a b c d e f g h"          # 4 windows of 5, all first
    t1 = "a b c d e f x y z"        # windows at pos 0,1 dup doc0; 2,3,4 fresh
    t2 = "a b c d e f g h"          # full copy: all 4 windows dup
    t3 = "p q r s t u"              # 2 fresh windows
    docs = spark.createDataFrame(
        [(0, t0), (1, t1), (2, t2), (3, t3)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in span_dup_stats(docs, k=5).collect()}
    assert (rows[0]["n_windows"], rows[0]["n_dup"]) == (4, 0)
    assert (rows[1]["n_windows"], rows[1]["n_dup"]) == (5, 2)
    assert (rows[2]["n_windows"], rows[2]["n_dup"]) == (4, 4)
    assert (rows[3]["n_windows"], rows[3]["n_dup"]) == (2, 0)
    assert not rows[0]["drop"] and not rows[1]["drop"] and not rows[3]["drop"]
    assert rows[2]["drop"] and rows[2]["dup_frac"] == 1.0
    # short doc below k tokens is excluded entirely
    short = spark.createDataFrame([(9, "a b c")], "doc_id long, text string")
    assert span_dup_stats(short, k=5).count() == 0



def test_span_dedup_rewrite_hand_computed(spark):
    """Corpus-rewriting span dedup: tokens covered by ANY duplicated
    5-window are cut (overlapping windows union), first occurrences
    survive verbatim, sub-k docs pass through whole."""
    from delphi_pdf_parser_spark.operators.dedup import span_dedup_rewrite

    t0 = "a b c d e f g h"    # all windows first -> untouched
    t1 = "a b c d e f x y z"  # dup windows p=0,1 -> tokens 1..6 cut
    t2 = "a b c d e f g h"    # full copy -> everything cut
    t3 = "p q r s t u"        # fresh -> untouched
    t4 = "a b c"              # below k: no windows, passes through
    docs = spark.createDataFrame(
        [(0, t0), (1, t1), (2, t2), (3, t3), (4, t4)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in span_dedup_rewrite(docs, k=5).collect()}
    assert len(rows) == 5
    assert (rows[0]["text"], rows[0]["n_removed"]) == (t0, 0)
    assert (rows[1]["text"], rows[1]["n_removed"]) == ("x y z", 6)
    assert (rows[2]["text"], rows[2]["n_removed"]) == ("", 8)
    assert (rows[3]["text"], rows[3]["n_removed"]) == (t3, 0)
    assert (rows[4]["text"], rows[4]["n_removed"]) == (t4, 0)
    assert rows[1]["n_tokens"] == 9 and rows[2]["n_tokens"] == 8


# ---------------------------------------------------------------------------
# round 6 second half: paragraph_dedup + semdedup
# ---------------------------------------------------------------------------


def test_paragraph_dedup_newline_mode(spark):
    """CCNet paragraph semantics: first occurrence across the corpus
    keeps, every later identical paragraph drops; documents are
    reconstructed from surviving paragraphs in original order."""
    import hashlib

    from delphi_pdf_parser_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (0, "Alpha\nBeta\nGamma"),
            (1, "Beta\nDelta"),
            (2, "Alpha"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(docs, unit_words=None).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert out[0]["n_units"] == 3 and out[0]["n_kept"] == 3
    assert out[0]["kept_text_md5"] == md5("alpha beta gamma")
    # doc1: 'beta' already seen in doc0 -> only 'delta' survives
    assert out[1]["n_units"] == 2 and out[1]["n_kept"] == 1
    assert out[1]["kept_text_md5"] == md5("delta")
    assert out[1]["kept_frac"] == 0.5
    # doc2 is entirely duplicated -> empty reconstruction
    assert out[2]["n_kept"] == 0
    assert out[2]["kept_text_md5"] == md5("")


def test_paragraph_dedup_blank_doc_and_literal_sep(spark):
    """Newline mode keeps zero-unit documents in the output (n_units=0)
    instead of silently dropping them, and `sep` is a LITERAL —
    sep='.' must split on dots, not on every character."""
    import hashlib

    from delphi_pdf_parser_spark.operators.dedup import paragraph_dedup

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    docs = spark.createDataFrame(
        [(0, "Alpha\nBeta"), (1, ""), (2, "\n\n")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(docs, unit_words=None).collect()
    }
    assert sorted(out) == [0, 1, 2]
    for d in (1, 2):
        assert out[d]["n_units"] == 0 and out[d]["n_kept"] == 0
        assert out[d]["kept_text_md5"] == md5("")

    docs2 = spark.createDataFrame(
        [(0, "one two. one two. three")], "doc_id long, text string"
    )
    r = paragraph_dedup(docs2, unit_words=None, sep=".").collect()[0]
    # literal '.' -> units ['one two', 'one two', 'three']; a regex
    # '.' would split on every character (garbage units)
    assert r["n_units"] == 3 and r["n_kept"] == 2
    assert r["kept_text_md5"] == md5("one two three")


def test_span_first_occurrence_survives_huge_documents(spark):
    """First-occurrence keys are (doc_id, pos) struct minima: a
    >=2^20-token document must NOT bleed into the next doc_id's key
    space (the old packed doc_id*2^20+pos long overflowed, tying the
    two occurrences so neither was marked duplicate)."""
    from delphi_pdf_parser_spark.operators.dedup import span_dup_stats

    n = (1 << 20) + 5
    # doc 0: n unique tokens ending in the probe phrase; doc 1 repeats
    # the probe phrase -> its single window MUST be marked duplicate
    probe = "zq1 zq2 zq3 zq4 zq5"
    big = " ".join(f"t{i}" for i in range(n - 5)) + " " + probe
    docs = spark.createDataFrame(
        [(0, big), (1, probe)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r for r in span_dup_stats(docs, k=5).collect()
    }
    assert out[1]["n_windows"] == 1 and out[1]["n_dup"] == 1
    assert out[0]["n_dup"] == 0


def test_paragraph_dedup_chunk_mode(spark):
    """unit_words mode: non-overlapping w-token chunks; a document that
    is a permutation of another's chunks dedups to nothing."""
    import hashlib

    from delphi_pdf_parser_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "c d a b"), (2, "a b x")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(docs, unit_words=2).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert out[0]["n_kept"] == 2
    assert out[0]["kept_text_md5"] == md5("a b c d")
    assert out[1]["n_kept"] == 0 and out[1]["kept_text_md5"] == md5("")
    # doc2: chunk 'a b' is doc0's, trailing chunk 'x' is novel
    assert out[2]["n_units"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["kept_text_md5"] == md5("x")


def test_semdedup_keep_first_within_cluster(spark):
    """SemDeDup verdicts on a constructed 2-cluster corpus: the lowest
    vec_id in each cosine-neighborhood keeps, every >=threshold
    neighbor with a higher id drops; cross-cluster similarity never
    marks anything."""
    from delphi_pdf_parser_spark.operators.dedup import semdedup

    rows = [
        (0, [1.0, 0.0, 0.0]),   # seed/centroid 0
        (1, [0.0, 1.0, 0.0]),   # seed/centroid 1
        (2, [0.99, 0.14, 0.0]),  # near 0 -> dup of 0
        (3, [1.0, 0.0, 0.0]),   # exact dup of 0
        (4, [0.0, 0.95, 0.31]),  # near 1 -> dup of 1
        (5, [0.0, -1.0, 0.0]),  # anti-parallel to 1: same cluster? no —
                                 # cos to both centroids negative; argmax
                                 # picks cluster 0 (cos 0 > -1), no dup
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in semdedup(e, k=2, threshold=0.9).collect()}
    assert not out[0]["is_dup"] and out[0]["cluster_id"] == 0
    assert not out[1]["is_dup"] and out[1]["cluster_id"] == 1
    assert out[2]["is_dup"] and out[2]["cluster_id"] == 0
    assert out[3]["is_dup"] and out[3]["cluster_id"] == 0
    assert out[4]["is_dup"] and out[4]["cluster_id"] == 1
    assert not out[5]["is_dup"]
    assert out[3]["centroid_cos"] == 1.0


def test_semdedup_trained_mode_invariants(spark):
    """train=True (spherical-Lloyd centroids): same schema, every vector
    assigned, keep-first invariant holds — the lowest vec_id of any
    mutually-duplicate set is never marked dup."""
    from delphi_pdf_parser_spark.operators.dedup import semdedup

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = semdedup(e, k=4, threshold=0.35, train=True)
    rows = out.collect()
    assert len(rows) == e.count()
    assert {r["cluster_id"] for r in rows} <= set(range(4))
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for members in by_cluster.values():
        lowest = min(m["vec_id"] for m in members)
        for m in members:
            if m["vec_id"] == lowest:
                assert not m["is_dup"]


def test_semdedup_trained_on_corpus_smaller_than_k(spark):
    """train=True with k=8 on 5 vectors: every vector gets a verdict."""
    from delphi_pdf_parser_spark.operators.dedup import semdedup

    rows = [
        (i, [float((i * 7 + j * 3) % 5) - 2.0 for j in range(4)])
        for i in range(5)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup(e, k=8, threshold=0.9, train=True).collect()
    assert sorted(r["vec_id"] for r in out) == list(range(5))


def test_canonical_by_quality_keeps_best_not_first(spark):
    """Cluster resolution by QUALITY: the higher-quality later member
    wins its cluster (min-doc_id policy would keep doc 0); singletons
    keep themselves."""
    from delphi_pdf_parser_spark.operators.clusters import (
        canonical_by_quality,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    # Jaccard(base, rich) = 8/10 >= 0.5 -> same cluster
    rich = base + " iota kappa"
    docs = spark.createDataFrame(
        [
            (0, "s", base),          # near-dup of 1, fewer tokens
            (1, "s", rich),          # same cluster, higher quality
            (2, "s", "unrelated solitary document text here"),
        ],
        "doc_id long, source string, text string",
    )
    out = {
        r["doc_id"]: r for r in canonical_by_quality(docs).collect()
    }
    assert out[0]["cluster_id"] == out[1]["cluster_id"]
    assert out[1]["quality"] > out[0]["quality"]
    assert (out[0]["keep"], out[1]["keep"]) == (0, 1)
    assert out[2]["keep"] == 1
