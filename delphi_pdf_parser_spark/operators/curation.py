"""End-to-end corpus curation as ONE declarative plan.

The standard training-data pass — quality filter -> exact dedup
(keep-first) -> deterministic sample -> per-source accounting — composed
as a single DataFrame pipeline so Catalyst sees the whole thing: the
quality predicate pushes into the scan, the dedup is one hash-aggregate
on the fingerprint, the sample is a map-side md5 threshold (no RNG
state), and the only wide operations are the dedup aggregate and the
final per-source rollup.

Every stage's drop count is emitted per source (curation you can't
account for is curation you can't debug), and every expression has an
exact DuckDB mirror so the driver oracle pins the whole pipeline's
numbers, not just its shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import normalized



def curation_base(
    documents: DataFrame,
    min_words: int = 30,
    min_alpha_frac: float = 0.8,
    salt: str = "cur1",
) -> DataFrame:
    """The STATELESS per-document stage of the curation pass:
    (doc_id, source, n_words, q_pass, fingerprint, sample_h). Pure
    expressions, so the same projection serves the batch pipeline and
    the streaming form (streaming/curation_stream.py) — stage parity by
    construction."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_words = F.size(toks)
    alpha_frac = F.size(
        F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))
    ) / n_words
    return documents.select(
        "doc_id",
        "source",
        n_words.alias("n_words"),
        (
            (n_words >= min_words) & (alpha_frac >= min_alpha_frac)
        ).alias("q_pass"),
        F.md5(normalized(F.col("text"))).alias("fingerprint"),
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("source"),
                    F.lit(salt),
                    F.col("doc_id").cast("string"),
                )
            ),
            1,
            4,
        ).alias("sample_h"),
    )


def curation_pipeline(
    documents: DataFrame,
    min_words: int = 30,
    min_alpha_frac: float = 0.8,
    sample_hex: str = "8000",
    salt: str = "cur1",
) -> DataFrame:
    """-> (source, n_input, n_quality, n_unique, n_sampled,
    mean_words_sampled): per-source survivor counts after each curation
    stage. Thresholds are parameters — the published Gopher set lives in
    textstats.gopher_quality; this pipeline demonstrates the composed
    plan with knobs suited to the corpus at hand."""
    base = curation_base(documents, min_words, min_alpha_frac, salt)
    # keep-first dedup over the quality survivors (global: a duplicate in
    # another source still counts as a duplicate)
    keepers = (
        base.filter("q_pass")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    # inner join on (fingerprint, doc_id): exactly the keep-first row of
    # every duplicate group survives
    survivors = base.filter("q_pass").join(
        keepers, ["fingerprint", "doc_id"]
    )
    sampled = survivors.filter(F.col("sample_h") < F.lit(sample_hex))
    n_input = documents.groupBy("source").agg(
        F.count("*").alias("n_input")
    )
    n_quality = (
        base.filter("q_pass")
        .groupBy("source")
        .agg(F.count("*").alias("n_quality"))
    )
    n_unique = survivors.groupBy("source").agg(
        F.count("*").alias("n_unique")
    )
    samp = sampled.groupBy("source").agg(
        F.count("*").alias("n_sampled"),
        F.round(F.avg("n_words"), 4).alias("mean_words_sampled"),
    )
    return (
        n_input.join(n_quality, "source", "left")
        .join(n_unique, "source", "left")
        .join(samp, "source", "left")
        .select(
            "source",
            "n_input",
            F.coalesce("n_quality", F.lit(0)).alias("n_quality"),
            F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            "mean_words_sampled",
        )
    )
