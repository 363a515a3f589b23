"""Map stages: the one fan-out rule, the one plan-size probe and the
one per-row Python boundary.

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

``map_rows(df, fn, schema)`` is the one per-row Python stage: a single
``mapInPandas`` pass that calls ``fn`` on every input row and builds
each output frame from the rows it returns. Every operator whose Python
work is one call per row (page parsers, PDF extraction and its sinks,
media codecs, source readers) goes through it, so the Arrow batch loop
exists once; ``page_rows`` adapts the ``(key, payload)`` page parsers.
Stages that score a whole NumPy batch at once (semdedup's centroid
assignment, similarity's ADC scoring, the ``mapInArrow`` shingle and
simhash passes) keep their own batch functions.
"""

from __future__ import annotations

from typing import Callable, Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

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


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: StructType
) -> DataFrame:
    """One ``mapInPandas`` pass over ``df``: ``fn(*row)`` is called on
    every input row, with ``df``'s columns in order, and returns the
    output rows for it (tuples in ``schema``'s field order; none to drop
    the row). An exception from ``fn`` fails the task, so row functions
    catch what their input can throw."""
    cols = schema.fieldNames()

    def batches(frames):
        for b in frames:
            rows = []
            for row in zip(*(col for _, col in b.items())):
                rows.extend(fn(*row))
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(batches, schema)


def page_rows(parse: Callable[[object, bytes], list]) -> Callable:
    """The ``map_rows`` function for a ``(key, payload)`` page parser: a
    str payload is UTF-8 encoded, a binary one read as bytes, and
    ``parse(key, data)`` returns the page's row list. A null payload, or
    a page whose parse raises, yields no rows: one malformed page must
    never kill its batch."""

    def rows(key, payload):
        if payload is None:
            return ()
        try:
            return parse(
                key,
                payload.encode() if isinstance(payload, str) else bytes(payload),
            )
        except Exception:
            return ()

    return rows
