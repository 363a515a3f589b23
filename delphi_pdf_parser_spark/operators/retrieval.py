"""BM25 sparse retrieval over the documents table — the lexical
complement to the dense ANN family (``operators/similarity.py``):
retrieval-based curation (FineWeb-style "find docs like these seeds"),
retrieval decontamination, and hard-negative mining all need a
corpus-scale BM25 pass.

Okapi BM25 (Robertson & Zaragoza 2009), distinct query terms:

    score(q, d) = sum_{t in q ∩ d} idf(t)
                  * tf(t,d) * (k1 + 1)
                  / (tf(t,d) + k1 * (1 - b + b * len_d / avgdl))
    idf(t)      = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))

Scale shape: doc-side term frequencies are one explode + hash
aggregate; df and the (N, avgdl) scalars are map-side-combined
aggregates; the query table is TINY by construction and broadcast to
the term-frequency table (the corpus is never shuffled by token for a
handful of queries), so the only wide exchange is the final
(query_id, doc_id) partial-sum aggregate — rows exist only for terms
the query and document share. Top-k per query is a per-query window,
never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .parallelize import ensure_min_parallelism
from .textstats import words


def _terms(col, out):
    toks = words(col)
    return F.filter(toks, lambda t: t != "").alias(out)


def bm25_topk(
    documents: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents per query by BM25. ``documents``: (doc_id,
    text); ``queries``: (query_id, text). Returns (query_id, doc_id,
    score, rk), score rounded to 6 dp, ties broken by doc_id.

    r8 (guide §1.2 "remove unnecessary passes"): doclen and the
    (N, avgdl) scalars no longer run explode + corpus-wide aggregates —
    ``len_d`` is the SIZE of the token array (integer-exact equal to
    the old per-token count; zero-token docs filtered exactly as the
    old groupBy dropped them), so both are map-only passes with no
    exchange at all. The only corpus-wide shuffle-feeding work left is
    the query-term tf aggregate, whose input the broadcast semi-join
    prunes BELOW the aggregate. Score arithmetic is unchanged
    expression-for-expression. (A tf-table-sharing variant that
    aggregated the full (doc_id, tok) matrix once and reused its
    exchange was measured: better than the old shape at sf1.0 but a
    ~0.8 s stage-latency regression at sf0.1 — this map-only form wins
    at both scales.)"""
    documents = ensure_min_parallelism(documents)
    toks = documents.select(
        "doc_id", F.explode(_terms(F.col("text"), "t")).alias("tok")
    )
    doclen = documents.select(
        "doc_id", F.size(_terms(F.col("text"), "t")).alias("len_d")
    ).filter(F.col("len_d") > 0)
    stats = doclen.agg(
        F.count("*").alias("n_docs"), F.avg("len_d").alias("avgdl")
    )
    qterms = queries.select(
        "query_id",
        F.explode(
            F.array_distinct(_terms(F.col("text"), "t"))
        ).alias("tok"),
    )
    qtok = qterms.select("tok").distinct()
    # broadcast-semi-join the tiny query vocabulary UNDER the term
    # aggregate: tf is only ever computed for query terms, and the
    # corpus is never shuffled by token
    toks_q = toks.join(F.broadcast(qtok), "tok")
    tf = toks_q.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    # df as a window over the (already query-term-only, tiny) tf table:
    # a separate groupBy+rejoin would recompute the corpus-scan subtree
    # twice — the window shares it
    tf = tf.withColumn(
        "df", F.count("*").over(Window.partitionBy("tok"))
    )
    hits = tf.join(F.broadcast(qterms), "tok").join(doclen, "doc_id")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("len_d") / F.col("avgdl")
    )
    scored = (
        hits.crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            (idf * F.col("tf") * F.lit(k1 + 1.0) / denom).alias("s"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("s"), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "doc_id", "score", "rk")
    )


def build_inverted_index(
    documents: DataFrame,
    min_df: int = 1,
    max_df_frac: float = 0.5,
    max_postings: int = 1000,
) -> DataFrame:
    """Corpus inverted index: (tok, df, n_stored, postings) where
    postings is a ``doc:tf`` list serialized ``"d1:t1,d2:t2,..."`` in
    ascending doc order — the materialized-index product behind
    :func:`bm25_topk`'s ad-hoc path.

    Scale bounds, all explicit: stopword-frequency tokens drop
    (``df > max_df_frac * n_docs`` — their postings would be
    corpus-sized and carry no signal), hapax noise drops
    (``df < min_df``), and per-token posting lists truncate
    DETERMINISTICALLY to the ``max_postings`` lowest doc_ids with the
    true ``df`` still reported next to ``n_stored`` (no silent cap).
    One explode + two hash aggregates + a per-token rank window.
    """
    documents = ensure_min_parallelism(documents)
    toks = documents.select(
        "doc_id", F.explode(_terms(F.col("text"), "t")).alias("tok")
    )
    tf = toks.groupBy("tok", "doc_id").agg(F.count("*").alias("tf"))
    n_docs = documents.select("doc_id").distinct().count()
    w = Window.partitionBy("tok").orderBy(F.asc("doc_id"))
    ranked = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("tok")))
        .filter(
            (F.col("df") >= min_df)
            & (F.col("df") <= F.lit(float(max_df_frac) * n_docs))
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_postings)
    )
    return (
        ranked.groupBy("tok", "df")
        .agg(
            F.count("*").cast("int").alias("n_stored"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "tf"))
                    ),
                    lambda p: F.concat_ws(
                        ":",
                        p["doc_id"].cast("string"),
                        p["tf"].cast("string"),
                    ),
                ),
                ",",
            ).alias("postings"),
        )
        .select("tok", "df", "n_stored", "postings")
    )
