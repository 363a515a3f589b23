"""The one fan-out rule for map stages, and the one plan-size probe.

At 100 TB an input table arrives in thousands of splits and every
map-only stage parallelizes for free.  But a small table written as one
parquet row group (a dimension snapshot, a re-ingested sample, bench
corpora) yields ONE scan partition, and any expensive map work behind it
— Arrow UDF decode, shingle/hash explode — serializes onto a single
core no matter how many the cluster has.

``ensure_min_parallelism(df, heavy=False)`` is called right before such
a map stage.  It reads only ``plan_bytes`` — Catalyst's size estimate,
no job and no RDD conversion (a ``df.rdd.getNumPartitions()`` probe was
measured at ~1.4 s of plan compilation per query) — and decides:

- estimate unknown or >= ``MAX_BYTES`` (1 GB) -> ``df`` unchanged: no
  blind shuffle, and a table this size arrives in many splits on any
  real layout;
- light stage (``heavy=False``) and estimate < ``LIGHT_MIN_BYTES``
  (2 MB) -> unchanged: for cheap map work the exchange and stage barrier
  cost more than the serial work they would spread;
- otherwise -> ``repartition(defaultParallelism)`` (round-robin), a
  shuffle bounded by ``MAX_BYTES``.

``heavy=True`` is for codec stages (image/audio/video synthesis and
decode: hundreds of Python cycles per byte), which fan out at any known
size below ``MAX_BYTES``.  The guard never sees the split count, so a
properly split table between the two limits gets the exchange too.

Measured at sf1.0 on one-row-group inputs: html_markdown 9.1 s -> 0.9 s,
extract_links 4.8 s -> ~1 s.  Cheap maps stay unguarded because A/B at
sf1.0 had the exchange lose: unigram_logprob (1.55 s vs 1.7-2.1 s),
packing._global_offsets (1.2 s vs 2.0 s), decontam.benchmark_overlap
(0.32-0.43 s vs 0.34-0.55 s), urls.domain_stats (0.34-0.39 s vs
0.36-0.59 s) and url_dedup (0.63 s vs 0.62-0.94 s).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

LIGHT_MIN_BYTES = 2 << 20
MAX_BYTES = 1 << 30


def plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate of ``df``'s optimized plan (for parquet
    scans, the filter-pruned input size), or None when unknown: the
    probe failed or reported Long.MaxValue (no statistics)."""
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None
    return None if est >= 1 << 60 else est


def ensure_min_parallelism(df: DataFrame, heavy: bool = False) -> DataFrame:
    est = plan_bytes(df)
    if est is None or est >= MAX_BYTES or (not heavy and est < LIGHT_MIN_BYTES):
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
