"""Sequence packing: assemble documents into fixed-length training
sequences — the batch-assembly step of an LLM data pipeline (documents
are concatenated in corpus order with an EOS token after each, then cut
into `seq_len`-token windows; GPT-style "document packing").

The interesting scale problem is the GLOBAL prefix sum over per-document
token counts: a naive `sum() over (order by doc_id)` window has no
partition key, so Spark collapses it onto ONE task — a non-starter at
10^12 documents. The standard distributed fix implemented here is the
two-phase scan:

  1. bucket documents by doc_id range and cumsum WITHIN each bucket
     (a window partitioned by bucket — shuffles, but every partition is
     bounded by `bucket_docs`);
  2. cumsum the per-bucket totals (a table `n_docs / bucket_docs` rows
     long) and broadcast-join the bucket offsets back.

At 10^12 docs pick `bucket_docs` so phase 2's table fits one executor
(e.g. 10^7 -> 10^5 rows); the same construction applies recursively if
it ever doesn't. The phase-2 window over the totals table is the ONE
deliberately single-partition step — it is O(n_buckets), not O(n_docs).

Reference parity note: the Delphi reference (liyc1968/Delphi-PDF-Parser)
has no corpus operators; this extends its extraction sink toward the
training-data pipeline the way SURVEY.md §2's LLM-ops section
prescribes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .parallelize import ensure_min_parallelism
from .textstats import words


def _global_offsets(
    documents: DataFrame, n_expr, bucket_docs: int
) -> DataFrame:
    """(doc_id, n, start): corpus-order global offsets of per-document
    sizes `n_expr` via the two-phase prefix sum (module docstring):
    bounded-bucket phase-1 window + O(n_buckets) phase-2 cumsum
    broadcast back. Shared by pack_sequences and assign_shards.

    Unguarded: one split-and-count per document (parallelize.py)."""
    toks = documents.select(
        "doc_id",
        n_expr.alias("n"),
        F.expr(f"doc_id div {int(bucket_docs)}").alias("bucket"),
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = toks.withColumn("cum_in", F.sum("n").over(w_in))
    btot = toks.groupBy("bucket").agg(F.sum("n").alias("btot"))
    # phase 2: O(n_buckets) rows — the single-partition window is the
    # point of the construction, not an accident
    w_b = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    boff = btot.select(
        "bucket",
        F.coalesce(F.sum("btot").over(w_b), F.lit(0)).alias("boff"),
    )
    return within.join(F.broadcast(boff), "bucket").select(
        "doc_id",
        "n",
        (F.col("boff") + F.col("cum_in") - F.col("n")).alias("start"),
    )


def pack_sequences(
    documents: DataFrame, seq_len: int = 1024, bucket_docs: int = 4096
) -> DataFrame:
    """Pack the corpus into `seq_len`-token training sequences.

    Token model: whitespace tokens of the trim/lower-normalized text
    plus ONE trailing EOS per document (so even an empty document
    occupies its separator slot). Documents are packed in doc_id order;
    a document may span several sequences (no padding except the tail
    of the final sequence — exactly the "concat then chunk" pretraining
    layout, e.g. GPT-2/3, Brown et al. 2020 §2.1).

    Emits per sequence: seq_id, n_docs (documents contributing >= 1
    token), n_tokens (== seq_len except possibly the last), first/last
    contributing doc_id. The whole layout is pinned by the DuckDB
    oracle: the two-phase distributed prefix sum must equal the
    oracle's flat window cumsum bit-for-bit.

    Scale shape (100 TB): one narrow (doc_id, n) projection; one
    shuffle into bounded buckets for the phase-1 window; a tiny
    phase-2 totals cumsum broadcast back; the span explode fans out at
    most ceil(n/seq_len)+1 rows per doc; final groupBy(seq_id) is one
    hash-agg. No Python UDFs, no driver collects; the trailing orderBy
    is presentation-only.
    """
    # non-empty tokens only: an empty/whitespace/null document carries
    # exactly its EOS slot (n=1); `div` is true integer division —
    # float `/`+cast rounds once offsets pass 2^53 tokens
    t = words(F.coalesce(F.col("text"), F.lit("")))
    nt = F.size(F.filter(t, lambda x: x != ""))
    g = _global_offsets(documents, (nt + 1).cast("long"), bucket_docs)
    first_seq = F.expr(f"start div {int(seq_len)}")
    last_seq = F.expr(f"(start + n - 1) div {int(seq_len)}")
    spans = g.select(
        "doc_id",
        "n",
        "start",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    )
    seq_start = F.col("seq_id") * seq_len
    n_tok = F.least(
        F.col("start") + F.col("n"), seq_start + F.lit(seq_len)
    ) - F.greatest(F.col("start"), seq_start)
    return (
        spans.select("seq_id", "doc_id", n_tok.alias("n_tok"))
        .groupBy("seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
        .orderBy("seq_id")
    )


def doc_shard_ids(
    documents: DataFrame, shard_bytes: int = 1 << 20, bucket_docs: int = 4096
) -> DataFrame:
    """(doc_id, n, shard_id): the per-document shard map assign_shards
    aggregates — exposed so a writer can equi-join it back on doc_id
    (a broadcast range-join over shard spans would be a nested loop at
    scale)."""
    # +1: newline terminator per written document record; octet_length
    # = UTF-8 BYTES (F.length counts characters — 4x off on CJK text,
    # defeating the size-balance contract)
    sz = F.octet_length(F.coalesce(F.col("text"), F.lit(""))).cast("long") + 1
    g = _global_offsets(documents, sz, bucket_docs)
    return g.select(
        "doc_id",
        "n",
        F.expr(f"start div {int(shard_bytes)}").alias("shard_id"),
    )


def assign_shards(
    documents: DataFrame, shard_bytes: int = 1 << 20, bucket_docs: int = 4096
) -> DataFrame:
    """Byte-balanced output shard assignment — the sink-side use of the
    same two-phase prefix sum pack_sequences builds: documents are
    laid out in corpus order and shard i covers byte offsets
    [i*shard_bytes, (i+1)*shard_bytes); a document belongs to the
    shard its FIRST byte lands in (documents are atomic — shards vary
    by at most one document's size, the standard balanced-writer
    contract). Downstream, `repartition(col("shard_id"))` +
    partitioned write produces size-balanced output files with a
    deterministic doc->shard map that checkpoint-resume can re-derive.

    Emits per shard: shard_id, n_docs, n_bytes, first/last doc_id.
    Scale shape matches pack_sequences: bounded-bucket phase-1 window,
    O(n_buckets) phase-2 cumsum broadcast back, one hash-agg."""
    return (
        doc_shard_ids(documents, shard_bytes, bucket_docs)
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n").cast("long").alias("n_bytes"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
        .orderBy("shard_id")
    )


def chunk_documents(
    documents: DataFrame, chunk_tokens: int = 128, overlap: int = 16
) -> DataFrame:
    """RAG/pretraining chunking: split each document into overlapping
    fixed-size token windows (whitespace tokens; chunk i starts at
    token 1 + i*(chunk_tokens - overlap), 1-based).

    Emission rule (deterministic, fully covering, no pure-overlap
    tails): starts run over sequence(1, greatest(1, n_tok - overlap),
    step) — every token lands in at least one chunk, the final chunk
    may be short, and a start whose window would add no token beyond
    the previous chunk's overlap is never emitted. Empty documents emit
    nothing.

    Scale shape: one map-side split + explode behind the fan-out guard
    (parallelize.py); chunk rows never carry the whole document, only
    their own slice.
    """
    if overlap < 0 or overlap >= chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    documents = ensure_min_parallelism(documents)
    step = chunk_tokens - overlap
    toks = F.split(
        F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"
    )
    toks = F.filter(toks, lambda t: t != "")
    base = documents.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n_tok")
    ).filter(F.col("n_tok") > 0)
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.lit(1), F.col("n_tok") - F.lit(overlap)),
        F.lit(step),
    )
    # slice BEFORE exploding: each generated row carries only its own
    # window, never the parent token array (explode duplicates sibling
    # columns per output row)
    pieces = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start_tok"),
            F.slice(F.col("toks"), s, chunk_tokens).alias("piece"),
        ),
    )
    chunks = base.select(
        "doc_id", F.posexplode(pieces).alias("chunk_id", "p")
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        F.col("p.start_tok").alias("start_tok"),
        F.size("p.piece").alias("n_tokens"),
        F.concat_ws(" ", "p.piece").alias("chunk_text"),
    )
