"""Benchmark decontamination: n-gram overlap between a training corpus
and an evaluation/benchmark set (the classic 13-gram contamination
check used for LLM training-data hygiene).

100 TB shape: the benchmark side is SMALL (eval sets are megabytes) —
its distinct n-grams broadcast; the corpus side explodes n-grams
map-side and inner-joins the broadcast, so only MATCHED grams (a tiny
fraction) reach the per-doc aggregation shuffle. The final counts are
broadcast back onto the corpus ids. No full corpus-wide shuffle of
n-grams ever happens.

The join key is the n-gram STRING so the driver oracle (DuckDB) can
mirror the query exactly; at petabyte scale you'd swap the key for
xxhash64(ngram) (8 bytes vs ~100) and accept a rows-only check — noted
here rather than silently done.

The n-gram construction reuses the arrays_zip-of-shifted-slices form
(codegen-able; the F.transform lambda equivalent measured 70x slower —
see operators/textstats.top_ngrams).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .textstats import words


def _ngram_rows(df: DataFrame, n: int) -> DataFrame:
    """(doc_id, text) -> (doc_id, ngram) with exactly size-n+1 grams per
    doc (docs shorter than n tokens produce none)."""
    toks = words(F.col("text"))
    parts = [
        F.slice(toks, j + 1, F.greatest(F.size(toks) - n + 1, F.lit(0)))
        for j in range(n)
    ]
    zipped = F.arrays_zip(*parts)
    return df.select(F.col("doc_id"), F.explode(zipped).alias("z")).select(
        "doc_id",
        F.concat_ws(" ", *[F.col(f"z.{j}") for j in range(n)]).alias("ngram"),
    )


def benchmark_overlap(
    documents: DataFrame, benchmark: DataFrame, n: int = 13
) -> DataFrame:
    """-> (doc_id, n_contaminated_ngrams, contaminated) per corpus doc:
    how many DISTINCT benchmark n-grams the document contains, and the
    contamination flag (any overlap). Both inputs need (doc_id, text).
    Unguarded: the n-gram explode feeds a broadcast semi-join that drops
    almost every row (parallelize.py)."""
    bench_grams = _ngram_rows(benchmark, n).select("ngram").distinct()
    doc_grams = _ngram_rows(documents, n)
    matched = doc_grams.join(F.broadcast(bench_grams), "ngram")
    counts = matched.groupBy("doc_id").agg(
        F.count_distinct("ngram").alias("n_contaminated_ngrams")
    )
    return (
        documents.select("doc_id")
        .join(F.broadcast(counts), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(
                F.col("n_contaminated_ngrams"), F.lit(0)
            ).alias("n_contaminated_ngrams"),
            (
                F.coalesce(F.col("n_contaminated_ngrams"), F.lit(0)) > 0
            ).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


def embedding_decontam(
    embeddings: DataFrame, bench_mod: int = 50, threshold: float = 0.5
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic
    complement of the n-gram overlap pass (benchmark_overlap): corpus
    vectors whose cosine to ANY benchmark vector reaches `threshold`
    are flagged as contaminated (paraphrased eval leakage that n-gram
    matching cannot see). The benchmark set here is the deterministic
    vec_id % bench_mod == 0 slice — production passes its real
    eval-set embeddings.

    Emits (vec_id, max_bench_cos, contaminated). Scale shape (100 TB):
    the benchmark side is SMALL by construction (eval sets are
    thousands of rows) and broadcasts; the corpus scans ONCE and the
    per-vector max over benchmark cosines partial-aggregates map-side,
    so the one exchange carries corpus-row counts, never the corpus x
    benchmark product. Cosines are JVM higher-order expressions
    (zip_with / aggregate) — no Python in the path."""
    from .dedup import _cosine

    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    bench = e.filter(F.col("vec_id") % bench_mod == 0).select(
        F.col("vec_id").alias("bench_id"), F.col("emb").alias("bemb")
    )
    corpus = e.filter(F.col("vec_id") % bench_mod != 0)
    cos = _cosine(F.col("emb"), F.col("bemb"))
    per = (
        corpus.join(F.broadcast(bench))
        .groupBy("vec_id")
        .agg(F.round(F.max(cos), 4).alias("max_bench_cos"))
    )
    # left-join back so an EMPTY benchmark set marks every corpus row
    # clean (max cos 0) instead of silently emitting zero verdicts
    return (
        corpus.select("vec_id")
        .join(per, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("max_bench_cos", F.lit(0.0)).alias(
                "max_bench_cos"
            ),
            (F.coalesce("max_bench_cos", F.lit(0.0)) >= threshold)
            .cast("int")
            .alias("contaminated"),
        )
        .orderBy("vec_id")
    )
