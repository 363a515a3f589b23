"""Cardinality sketches for corpus statistics.

KMV (k-minimum-values) distinct estimation — the Theta-sketch family's
core primitive: hash every element uniformly into [0, 1); the k-th
smallest distinct hash h_(k) estimates the cardinality as
(k - 1) / h_(k).  Unlike approx_count_distinct (whose HLL registers are
engine-specific), this implementation is DETERMINISTIC and
cross-engine: the hash is md5 (bit-identical in Spark and DuckDB), the
order is the hex string's lexicographic order (identical), and the
fraction is computed from the first 12 hex nibbles with explicit
arithmetic — so the driver's DuckDB oracle pins the estimate exactly,
not just row shapes.

100 TB shape: one distinct-aggregate on (group, hash) — map-side
combine collapses duplicate tokens before the shuffle — then a
per-group top-k window over at most the distinct vocabulary.  Nothing
is collected; the sketch row set is |groups| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import words

def _hex_fraction(col):
    """First 12 hex nibbles of an md5 string -> value in [0, 1).

    conv(hex, 16, 10) / 16^12: the 48-bit integer is exact in a double
    and identical in DuckDB via ('0x' || nibbles)::BIGINT, and a single
    int/double division is bit-identical across engines.  Resolution
    16^-12 ~ 3.6e-15: the k-th minimum hash stays far above quantization
    even for per-group distinct cardinalities ~ 10^12 (k/n down to
    ~6e-11 at k = 64), matching the engine's 100 TB design point."""
    return F.conv(F.substring(col, 1, 12), 16, 10).cast("double") / F.lit(
        float(16 ** 12)
    )


def kmv_distinct_tokens(
    documents: DataFrame, k: int = 64, group_col: str = "source"
) -> DataFrame:
    """Per-group estimate of the number of DISTINCT tokens via a KMV
    sketch -> (group, n_hashes, kth_hash, est_distinct).

    Groups with fewer than k distinct tokens report the exact count
    (the sketch is exact below its capacity — standard KMV semantics).
    """
    toks = (
        documents.select(
            F.col(group_col).alias("grp"),
            F.explode(
                words(F.col("text"))
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .select("grp", F.md5("tok").alias("h"))
        .distinct()
    )
    w = Window.partitionBy("grp").orderBy("h")
    ranked = toks.select(
        "grp", "h", F.row_number().over(w).alias("rnk")
    ).filter(F.col("rnk") <= k)
    agg = ranked.groupBy("grp").agg(
        F.count("*").alias("n_hashes"),
        F.max(F.when(F.col("rnk") == k, F.col("h"))).alias("kth_hash"),
    )
    est = F.when(
        F.col("kth_hash").isNotNull(),
        F.round((F.lit(k - 1) / _hex_fraction(F.col("kth_hash"))), 2),
    ).otherwise(F.col("n_hashes").cast("double"))
    return agg.select(
        F.col("grp").alias(group_col),
        "n_hashes",
        "kth_hash",
        est.alias("est_distinct"),
    )
