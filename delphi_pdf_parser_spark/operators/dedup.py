"""Deduplication operators: exact, token-Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale notes (the 100 TB story):
- exact dedup is a hash-groupBy on a fingerprint — one shuffle on a short
  key, map-side partial aggregation free via Catalyst
- pairwise Jaccard is restricted to co-group candidates (same source) so
  the self-join never goes quadratic in the corpus; at web scale the
  grouping key would be the LSH bucket below
- MinHash+LSH: shingle -> k hash fns -> band -> bucket join. Everything
  up to the bucket group-by is JVM-side (xxhash64 + higher-order array
  fns); candidate verification joins back to the shingle sets. The only
  shuffles are the bucket groupBy and the verify join — both on compact
  keys, AQE-skew tolerant.
- SimHash: 64-bit signature via bit-majority over token hashes —
  implemented with JVM bitwise ops (no Python), band-bucketed like LSH.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .parallelize import ensure_min_parallelism
from .textstats import normalized, words
from .similarity import (
    _first_centroids,
    _matrix,
    _unit,
    _vectors,
    kmeans_centroids,
)



def exact_dedup(documents: DataFrame) -> DataFrame:
    """Fingerprint group: keep-first semantics mirror the reference xref's
    first-entry-wins (SURVEY §2.B 'Dedup')."""
    fp = documents.select(
        F.md5(normalized(F.col("text"))).alias("fingerprint"), "doc_id"
    )
    return fp.groupBy("fingerprint").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id")
    )


def token_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    max_block: int | None = 100_000,
) -> DataFrame:
    """Exact token-set Jaccard over same-source candidate pairs.

    SCALE GATE: this is quadratic WITHIN each `source` block — correct as
    the verify stage AFTER LSH bucketing (minhash_lsh's candidate sets
    are small), but a scale-killer if run standalone over an unbounded
    block. `max_block` caps the quadratic blow-up: sources whose document
    count exceeds it are EXCLUDED from pairing (a silent cap would read
    as full coverage — audit excluded sources with
    documents.groupBy("source").count().filter(...) before trusting the
    output). Pass max_block=None only when block sizes are known-bounded
    upstream (e.g. LSH bucket output).
    """
    toks = documents.select(
        "doc_id",
        "source",
        F.array_distinct(words(F.col("text"))).alias(
            "tokset"
        ),
    )
    if max_block is not None:
        # no explicit broadcast: the per-source count table's size is
        # data-dependent (could be millions of sources) — AQE picks
        # broadcast when it fits
        sizes = toks.groupBy("source").agg(F.count("*").alias("_block_n"))
        toks = (
            toks.join(sizes, "source")
            .filter(F.col("_block_n") <= max_block)
            .drop("_block_n")
        )
    a = toks.alias("a")
    b = toks.alias("b")
    pairs = a.join(b, on="source").filter(F.col("a.doc_id") < F.col("b.doc_id"))
    inter = F.size(F.array_intersect(F.col("a.tokset"), F.col("b.tokset")))
    union = (
        F.size(F.col("a.tokset")) + F.size(F.col("b.tokset")) - inter
    )
    jac = inter / union
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.round(jac, 4).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def _shingles(col, n: int = 3):
    """Word n-gram shingles as an array column (JVM-side)."""
    toks = words(col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", F.slice(toks, i + 1, n)
            ),
        )
    )


def _shingle_table(documents: DataFrame, shingle_n: int) -> DataFrame:
    """String shingle arrays via interpreted higher-order fns. KEPT AS THE
    REFERENCE/SPEC for the hash-shingle fast path below (pinned by
    tests/test_minhash.py); measured 2.5x slower to materialize than
    _shingle_hash_table and its checkpoint blocks are ~10x larger."""
    return documents.select(
        "doc_id", _shingles(F.col("text"), shingle_n).alias("shingles")
    ).filter(F.size("shingles") > 0)


def _shingle_hash_table(
    documents: DataFrame, shingle_n: int, num_hashes: int | None = None
) -> DataFrame:
    """Distinct 64-bit shingle HASHES per doc (blake2b-8 of each word
    n-gram), one Arrow batch pass. Jaccard over distinct hash sets equals
    Jaccard over shingle strings up to 64-bit collisions (~0 at any
    realistic doc size) — the standard trick that keeps the dedup
    pipeline's biggest intermediate (the per-doc shingle array) at
    8 bytes/shingle instead of a ~25-byte string. Profiling note: a pure
    JVM variant (xxhash64 inside F.transform) evaluates interpreted
    per element and measured 7x SLOWER than this Arrow pass.

    r8: the hash pass moved from a scalar ``@pandas_udf`` projection to
    ``mapInArrow`` (guide §4.2): same blake2b-8 per shingle, same
    set-accumulation order, but the output list<int64> column is built
    as one Arrow offsets+values buffer pair per batch instead of a
    pandas object-Series of Python lists — measured 4.3 s -> 0.8 s for
    the identical 2.6M-shingle pass at sf1.0 (the ArrowEvalPython
    object-list conversion was the whole cost, not the hashing).

    With ``num_hashes`` set, the SAME pass also emits the MinHash
    signature column: sig[i] = min over shingle hashes h of the folded
    ``xxhash64(h, lit(i))`` — replicated bit-exactly with the
    vectorized XXH64 long/int specializations (xxh64.py, fuzz-pinned
    against the JVM), signed-min like ``F.min``. That removes the
    explode + 32-way min aggregate (and its corpus-sized exchange)
    that used to produce signatures from this table."""
    documents = ensure_min_parallelism(documents)

    def shingle_batches(batches):
        import pyarrow as pa
        from hashlib import blake2b

        from delphi_pdf_parser_spark.xxh64 import xxh64_ints, xxh64_longs

        for b in batches:
            texts = b.column("text").to_pylist()
            offs = [0]
            vals: list[int] = []
            for t in texts:
                toks = (t or "").lower().split()
                n = len(toks)
                if n >= shingle_n:
                    seen = set()
                    for i in range(n - shingle_n + 1):
                        d = blake2b(
                            " ".join(toks[i : i + shingle_n]).encode(
                                "utf-8"
                            ),
                            digest_size=8,
                        ).digest()
                        seen.add(int.from_bytes(d, "big", signed=True))
                    vals.extend(seen)
                offs.append(len(vals))
            arr = pa.ListArray.from_arrays(
                pa.array(offs, pa.int32()), pa.array(vals, pa.int64())
            )
            cols = [b.column("doc_id"), arr]
            names = ["doc_id", "shingles"]
            if num_hashes:
                flat = np.asarray(vals, dtype=np.int64).view(np.uint64)
                offs_a = np.asarray(offs[:-1], dtype=np.int64)
                nonempty = np.asarray(offs[1:], dtype=np.int64) > offs_a
                starts = offs_a[nonempty]
                inner = xxh64_longs(flat, np.uint64(42))
                sig = np.zeros(
                    (len(offs) - 1, num_hashes), dtype=np.int64
                )
                for i in range(num_hashes):
                    outer = xxh64_ints(
                        np.full(len(flat), np.uint64(i)), inner
                    ).view(np.int64)
                    if len(starts):
                        sig[nonempty, i] = np.minimum.reduceat(
                            outer, starts
                        )
                sig_offs = pa.array(
                    np.arange(
                        0, (len(offs)) * num_hashes, num_hashes,
                        dtype=np.int32,
                    )
                )
                cols.append(
                    pa.ListArray.from_arrays(
                        sig_offs, pa.array(sig.reshape(-1), pa.int64())
                    )
                )
                names.append("sig")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    schema = "doc_id long, shingles array<long>"
    if num_hashes:
        schema += ", sig array<long>"
    return (
        documents.select("doc_id", "text")
        .mapInArrow(shingle_batches, schema)
        .filter(F.size("shingles") > 0)
    )


def minhash_signatures(
    documents: DataFrame, num_hashes: int = 32, shingle_n: int = 3
) -> DataFrame:
    """MinHash signatures: per hash function i, sig[i] = min over shingle
    hashes h of the folded xxhash64(h, lit(i)) — one 8-byte hash per
    shingle up front, then num_hashes cheap integer mixes (vs num_hashes
    full string hashes per shingle).

    r8: the mins are computed inside the shingle ``mapInArrow`` pass
    itself (vectorized XXH64, signed min — bit-identical to the old
    explode + 32-way ``F.min(F.xxhash64(...))`` aggregate, which cost a
    corpus-sized exchange plus a join back to the shingle table)."""
    sh = _shingle_hash_table(documents, shingle_n, num_hashes=num_hashes)
    return sh.select(
        "doc_id", F.col("sig").alias("signature"), "shingles"
    )


def minhash_lsh_candidates(
    documents: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become candidate pairs,
    then exact shingle-Jaccard verifies them.

    Scale shape: the band explode and self-join carry ONLY compact keys
    (doc_id, band, bucket) — never the shingle arrays (an 8-band explode
    would multiply every array 8x and the join would carry two arrays per
    candidate row). Shingle arrays are checkpointed once (localCheckpoint:
    blocks are ContextCleaner-released when unreferenced, unlike cache).

    r8: signatures ride the shingle ``mapInArrow`` pass (see
    _shingle_hash_table) instead of a corpus-sized explode + 32-way min
    aggregate + join back — the checkpoint now feeds banding directly
    and is joined back once, for the per-candidate verification. Band
    buckets still hash the same signature longs through the same JVM
    ``F.hash``, so the candidate set is unchanged."""
    rows_per_band = num_hashes // bands
    sh = _shingle_hash_table(
        documents, shingle_n, num_hashes=num_hashes
    ).localCheckpoint(eager=False)
    banded = sh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.hash(
                            *[
                                F.element_at(
                                    "sig", b * rows_per_band + r + 1
                                )
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    verified = (
        cands.join(
            sh.select(
                F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
            ),
            "doc_a",
        ).join(
            sh.select(
                F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
            ),
            "doc_b",
        )
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    return verified.select(
        "doc_a", "doc_b", F.round(inter / union, 4).alias("jaccard")
    )


def lsh_recall(
    documents: DataFrame,
    thresholds: tuple = (0.3, 0.5, 0.7),
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_block: int = 100_000,
) -> DataFrame:
    """Dedup QUALITY metric: precision/recall of the MinHash-LSH candidate
    generator against exact shingle-Jaccard ground truth, per threshold —
    so the pipeline tracks whether banding parameters actually recover the
    near-dups, not just how many rows came out.

    Ground truth is exact Jaccard over the same shingle-hash sets for all
    pairs WITHIN a `source` block (the bounded-quadratic verify shape
    token_jaccard_pairs uses; unblocked all-pairs truth would be corpus-
    quadratic). Per threshold t:
      recall    = |true pairs (j>=t) found by LSH| / |true pairs (j>=t)|
      precision = |LSH candidates with j>=t|       / |LSH candidates|
    Candidates carry their exact post-verify Jaccard, so precision needs
    no second join. Rows-only for the driver (blake2b shingle hashes have
    no SQL analogue); values pinned by tests/test_minhash.py."""
    sh = _shingle_hash_table(documents, shingle_n).localCheckpoint(eager=False)
    src = documents.select("doc_id", "source")
    toks = sh.join(src, "doc_id")
    sizes = toks.groupBy("source").agg(F.count("*").alias("_n"))
    toks = toks.join(sizes, "source").filter(F.col("_n") <= max_block).drop("_n")
    a, b = toks.alias("a"), toks.alias("b")
    pairs = a.join(b, on="source").filter(F.col("a.doc_id") < F.col("b.doc_id"))
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    union = F.size(F.col("a.shingles")) + F.size(F.col("b.shingles")) - inter
    truth = pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.round(inter / union, 4).alias("true_j"),
    ).filter(F.col("true_j") > 0)

    cand = minhash_lsh_candidates(
        documents, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n
    )

    spark = documents.sparkSession
    t_df = F.broadcast(
        spark.createDataFrame(
            [(float(t),) for t in thresholds], "threshold double"
        )
    )
    truth_c = truth.join(
        cand.select("doc_a", "doc_b", F.lit(1).alias("is_cand")),
        ["doc_a", "doc_b"],
        "left",
    )
    rec = (
        truth_c.crossJoin(t_df)
        .filter(F.col("true_j") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count("*").alias("n_true"),
            F.sum(F.coalesce(F.col("is_cand"), F.lit(0))).alias("n_hit"),
        )
    )
    prec = (
        cand.crossJoin(t_df)
        .groupBy("threshold")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum(
                (F.col("jaccard") >= F.col("threshold")).cast("long")
            ).alias("n_cand_good"),
        )
    )
    return (
        rec.join(prec, "threshold", "outer")
        .select(
            "threshold",
            F.coalesce("n_true", F.lit(0)).alias("n_true"),
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_cand_good") / F.col("n_candidates"), F.lit(0.0)), 4
            ).alias("precision"),
            F.round(
                F.coalesce(F.col("n_hit") / F.col("n_true"), F.lit(0.0)), 4
            ).alias("recall"),
        )
        .orderBy("threshold")
    )


def simhash(documents: DataFrame) -> DataFrame:
    """64-bit SimHash from token xxhash64 values, bit-majority counting.

    One ``mapInArrow`` pass (guide §4.2): tokenization stays in the JVM
    (trim/lower/split/slice expressions, so tokenizer parity is by
    construction), and the Python side hashes each document's tokens
    with the bit-exact vectorized XXH64 (xxh64.py, fuzz-pinned against
    ``F.xxhash64``) and counts bit votes in NumPy — no per-token rows
    and no shuffle (measured 2.6 s -> 0.6 s at sf1.0 against the
    explode+aggregate form it replaced).

    Only the first 2^20 - 1 tokens of a document vote (a ~4 MB+ text).
    The slice decides which tokens vote, so it is part of the signature
    definition: removing it would change the signatures of longer
    documents.

    doc_id is assumed unique per row (the corpus contract everywhere
    else in this package); duplicate ids get one signature each."""
    import pyarrow as pa

    documents = ensure_min_parallelism(documents)
    max_voters = (1 << 20) - 1
    toks = documents.select(
        "doc_id",
        F.slice(
            words(F.col("text")), 1, max_voters
        ).alias("toks"),
    )

    def sig_batches(batches):
        from delphi_pdf_parser_spark.xxh64 import xxh64_many

        shifts = np.arange(64, dtype=np.uint64)
        one = np.uint64(1)

        def group_sigs(rows, out_ids, sigs):
            # null/empty token lists get no row (explode emitted none)
            group = [
                (did, tl)
                for did, tl in zip(
                    rows.column("doc_id").to_pylist(), rows.column("toks").to_pylist()
                )
                if tl
            ]
            if not group:
                return
            flat: list[bytes] = []
            starts = []
            ns = []
            for did, tl in group:
                starts.append(len(flat))
                flat.extend(t.encode("utf-8") for t in tl)
                ns.append(len(tl))
            h = xxh64_many(flat)
            starts_a = np.asarray(starts, dtype=np.int64)
            ns_a = np.asarray(ns, dtype=np.int64)
            sig = np.zeros(len(group), dtype=np.uint64)
            for bit in range(64):
                votes = (h >> shifts[bit]) & one
                cnts = np.add.reduceat(votes, starts_a)
                sig |= ((cnts * 2 >= ns_a.astype(np.uint64))
                        .astype(np.uint64) << shifts[bit])
            out_ids.extend(d for d, _ in group)
            sigs.extend(sig.view(np.int64).tolist())

        for b in batches:
            out_ids: list[int] = []
            sigs: list[int] = []
            # bounded groups of whole documents, cut from Arrow token
            # counts: only one group's tokens are ever Python objects,
            # however large the batch's documents are
            lens = b.column("toks").value_lengths().fill_null(0).to_pylist()
            start = group_tokens = 0
            for i, n in enumerate(lens):
                group_tokens += n
                if group_tokens >= 65536:
                    group_sigs(b.slice(start, i + 1 - start), out_ids, sigs)
                    start, group_tokens = i + 1, 0
            group_sigs(b.slice(start), out_ids, sigs)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, pa.int64()),
                    pa.array(sigs, pa.int64()),
                ],
                names=["doc_id", "simhash"],
            )

    return toks.mapInArrow(sig_batches, "doc_id long, simhash long")


def simhash_near_dups(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by Hamming distance, bucketed on sub-bands so the
    join stays linear. Recall guarantee by pigeonhole: with
    max_hamming + 1 bands, any pair within distance max_hamming has at
    least one band its differing bits never touch, so it shares that
    band's bucket exactly — no pair inside the radius is dropped.
    (The r1 version fixed 4 bands but defaulted max_hamming=8, silently
    dropping distance 4-8 pairs whose flips straddled all four bands.)
    Band count scales with the radius; bucket width 64 // n_bands keeps
    buckets selective down to 7 bits at max_hamming=8."""
    n_bands = max_hamming + 1
    if n_bands > 32:
        raise ValueError("max_hamming > 31 makes bands degenerate (<2 bits)")
    # split the 64 bits into n_bands near-equal contiguous spans
    base, extra = divmod(64, n_bands)
    spans = []
    lo = 0
    for i in range(n_bands):
        width = base + (1 if i < extra else 0)
        spans.append((lo, width))
        lo += width
    # checkpoint: the band self-join references the signature pipeline on
    # BOTH sides — without this the whole tokenize+explode+65-agg pass
    # over the corpus runs twice (at 100 TB that is the dominant cost)
    sigs = simhash(documents).localCheckpoint(eager=False)
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), lo)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bucket"),
                    )
                    for i, (lo, width) in enumerate(spans)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    # Hamming test BEFORE the pair dedup (guide §2.3 "shuffle fewer
    # bytes"): the band join streams its within-bucket pair fan-out
    # through codegen'd xor+bit_count map-side, so only pairs inside
    # the radius ever reach the dropDuplicates exchange. hamming is a
    # pure function of (doc_a, doc_b), so filtering first and
    # deduplicating after keeps the result set identical — measured
    # 23.6M candidate rows -> 58k at sf1.0, taking the dedup shuffle
    # from ~1 GB to ~1 MB.
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _round4(x):
    """Round to 4 decimals HALF-AWAY-FROM-ZERO, matching Spark's
    F.round and DuckDB's round() — np.round is half-to-even, which
    flips oracle comparisons at exact 4-decimal ties (e.g. 5/32)."""
    return np.copysign(np.floor(np.abs(x) * 1e4 + 0.5), x) / 1e4


def _cosine(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )
    return dot / (na * nb)


def _cosine_blocks(mn: np.ndarray):
    """Yield (lo, hi, 4-dp cosines of unit rows lo:hi against every
    row): the gram matrix of `mn` in row blocks, so memory stays
    ~block x n for a bucket of n vectors."""
    block = 1024
    for lo in range(0, len(mn), block):
        hi = min(lo + block, len(mn))
        yield lo, hi, _round4(mn[lo:hi] @ mn.T)


def embedding_near_dups(embeddings: DataFrame, threshold: float = 0.99) -> DataFrame:
    """Cosine near-dup pairs within the same label partition (the label is
    the blocking key; at scale the blocking key is an IVF/LSH bucket).

    Per-bucket NumPy gram matrix via applyInPandas (one BLAS matmul per
    bucket) instead of a self-join with per-pair interpreted array
    lambdas: for a bucket of n vectors that is one n x d @ d x n product,
    blocked by rows so memory stays ~block x n. Bucket sizes are bounded
    by the blocking scheme (IVF/LSH cell sizes), not the corpus."""

    def gram(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        out_a, out_b, out_c = [], [], []
        for lo, hi, c in _cosine_blocks(_unit(_matrix(pdf["embedding"]))):
            for r in range(lo, hi):
                row = c[r - lo, r + 1:]
                hits = np.nonzero(row >= threshold)[0]
                if len(hits):
                    ia = ids[r]
                    jb = ids[r + 1 + hits]
                    lo_ids = np.minimum(ia, jb)
                    hi_ids = np.maximum(ia, jb)
                    out_a.append(lo_ids)
                    out_b.append(hi_ids)
                    out_c.append(row[hits])
        if not out_a:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    return _vectors(embeddings, "label").groupBy("label").applyInPandas(
        gram, "vec_a long, vec_b long, cosine double"
    )


def span_dup_stats(
    documents: DataFrame, k: int = 5, drop_threshold: float = 0.5
) -> DataFrame:
    """Exact-substring span duplication census (the window form of Lee
    et al. 2021 'Deduplicating Training Data Makes Language Models
    Better': any k-token span occurring elsewhere in the corpus is a
    duplicated span; docs past `drop_threshold` duplicated-window
    fraction get drop=true).

    Every sliding k-token window is keyed by md5 of its space-joined
    tokens (identical hex in Spark and DuckDB, so the whole pipeline is
    oracle-checkable bit-for-bit). The FIRST occurrence of a window —
    minimum (doc_id, pos) encoded as doc_id*2^20+pos, positions being
    bounded by token count — is the canonical copy; every other
    occurrence counts as duplicated. Emits per doc: n_windows, n_dup,
    dup_frac, drop.

    Scale shape (100 TB): the window explode is map-only; first-
    occurrence selection is ONE hash-aggregate on the 16-byte window
    key (map-side combined); the dup test joins occurrences back to
    that aggregate on the same key (AQE can skew-split boilerplate
    windows); per-doc rollup is one groupBy(doc_id). No windows over a
    global sort, no driver collects. The suffix-array construction of
    the paper is replaced by hashing because spans are fixed-length
    here — the census is exact for length-k spans."""
    toks = words(F.col("text"))
    base = documents.select("doc_id", toks.alias("t")).filter(
        F.size("t") >= k
    )
    idx = F.sequence(F.lit(1), F.size("t") - F.lit(k - 1))
    win = lambda i: F.md5(  # noqa: E731
        F.concat_ws(" ", F.slice("t", i, k))
    )
    occ = base.select(
        "doc_id",
        F.posexplode(F.transform(idx, win)).alias("pos", "wh"),
    )
    # first occurrence = lexicographic min of (doc_id, pos): a struct
    # min cannot overflow, unlike a packed doc_id*2^20+pos long, which
    # would bleed >=2^20-token documents into the next doc's key space
    occ = occ.select(
        "doc_id", "wh", F.struct("doc_id", "pos").alias("wkey")
    )
    firsts = occ.groupBy("wh").agg(F.min("wkey").alias("first_key"))
    marked = occ.join(firsts, "wh").select(
        "doc_id",
        (F.col("wkey") != F.col("first_key")).cast("int").alias("is_dup"),
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum("is_dup").cast("long").alias("n_dup"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup",
            (F.col("n_dup") / F.col("n_windows")).alias("dup_frac"),
            (
                F.col("n_dup") / F.col("n_windows") > F.lit(drop_threshold)
            ).alias("drop"),
        )
        .orderBy("doc_id")
    )


def span_dedup_rewrite(documents: DataFrame, k: int = 5) -> DataFrame:
    """Corpus-REWRITING exact-substring span dedup (the removal step of
    Lee et al. 2021 'Deduplicating Training Data Makes Language Models
    Better', token-level fixed-window form): every k-token window whose
    md5 key occurred earlier in the corpus (minimum doc_id*2^20+pos is
    the canonical copy, the same first-occurrence rule as
    span_dup_stats) is a duplicated span, and every token covered by
    ANY duplicated window is removed — overlapping duplicate windows
    merge into one cut, matching the paper's span-union semantics.
    Emits (doc_id, text, n_tokens, n_removed) where text is the
    space-joined surviving tokens of the normalized (trim/lower/split)
    token stream.

    Scale shape (100 TB): window explode and dup-token explode are
    map-only; first-occurrence selection is ONE hash-aggregate on the
    16-byte window key; the dup test joins occurrences back on that key
    (AQE skew-splits boilerplate windows); token removal is a LEFT ANTI
    join co-partitioned on (doc_id, tidx); the rewrite itself is one
    groupBy(doc_id) whose in-group array_sort is bounded by document
    length. No global sorts in the pipeline (the trailing orderBy is
    presentation-only), no driver collects, no Python UDFs."""
    toks = words(F.col("text"))
    base = documents.select("doc_id", toks.alias("t"))
    idx = F.sequence(F.lit(1), F.size("t") - F.lit(k - 1))
    win = lambda i: F.md5(  # noqa: E731
        F.concat_ws(" ", F.slice("t", i, k))
    )
    occ = base.filter(F.size("t") >= k).select(
        "doc_id",
        F.posexplode(F.transform(idx, win)).alias("p", "wh"),
    )
    # lexicographic struct min, not a packed long: overflow-free for
    # arbitrarily long documents (see span_dup_stats)
    occ = occ.select(
        "doc_id", "p", "wh", F.struct("doc_id", "p").alias("wkey")
    )
    firsts = occ.groupBy("wh").agg(F.min("wkey").alias("first_key"))
    dupw = (
        occ.join(firsts, "wh")
        .filter(F.col("wkey") != F.col("first_key"))
        .select("doc_id", "p")
    )
    # 0-based window start p covers 1-based token indices p+1 .. p+k
    dupt = dupw.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("p") + F.lit(1), F.col("p") + F.lit(k))
        ).alias("tidx"),
    ).distinct()
    toks_tbl = base.select(
        "doc_id", F.posexplode("t").alias("tp", "tok")
    ).select("doc_id", (F.col("tp") + 1).alias("tidx"), "tok")
    kept = toks_tbl.join(dupt, ["doc_id", "tidx"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("tidx", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("text"),
        F.count("*").alias("n_kept"),
    )
    docs = base.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
    return (
        docs.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
        .orderBy("doc_id")
    )


def _band_census(df: DataFrame, keys: list) -> DataFrame:
    """Banding census: every row of `df` falls in one bucket per band,
    band b's bucket keyed by `keys[b]` -> per-band bucket statistics
    (band, n_buckets, max_bucket, pairs_x2), ordered by band. pairs_x2
    = sum over buckets of sz*(sz-1), i.e. 2x the candidate-pair count,
    kept division-free so Spark and DuckDB agree on integer types."""
    bands = F.array(
        *[F.struct(F.lit(b).alias("band"), k.alias("key")) for b, k in enumerate(keys)]
    )
    banded = df.select(F.explode(bands).alias("bk")).select("bk.band", "bk.key")
    sizes = banded.groupBy("band", "key").agg(F.count("*").alias("sz"))
    return (
        sizes.groupBy("band")
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("sz").alias("max_bucket"),
            F.sum(F.col("sz") * (F.col("sz") - F.lit(1)))
            .cast("long")
            .alias("pairs_x2"),
        )
        .orderBy("band")
    )


def minhash_band_stats(documents: DataFrame) -> DataFrame:
    """Oracle-checkable MinHash banding census: 8 md5 minhashes over
    distinct 3-token shingles, 4 bands of 2 rows, per-band bucket
    statistics -> (band, n_buckets, max_bucket, pairs_x2).

    The production candidate path (minhash_lsh_candidates) signs with
    xxhash64 (JVM-side, faster) which DuckDB cannot reproduce; this
    variant uses md5 — identical hex in Spark and DuckDB — so the ENTIRE
    minhash -> band -> bucket pipeline is driver-oracled bit-for-bit
    (VERDICT r5 #10). The bucket statistics are `_band_census`'s.

    Scale shape: one shingle explode + one minhash aggregate + one
    compact (band, key) aggregate — the same shuffle count as the
    production path, map-side combined throughout."""
    toks = words(F.col("text"))
    base = documents.select("doc_id", toks.alias("t")).filter(
        F.size("t") >= 3
    )
    idx = F.sequence(F.lit(1), F.size("t") - F.lit(2))
    shingle = lambda i: F.concat_ws(  # noqa: E731
        " ",
        F.element_at("t", i),
        F.element_at("t", i + 1),
        F.element_at("t", i + 2),
    )
    sh = (
        base.select(
            "doc_id", F.explode(F.transform(idx, shingle)).alias("s")
        )
        .distinct()
    )
    mh = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{j}|"), F.col("s")))).alias(
                f"h{j}"
            )
            for j in range(8)
        ]
    )
    return _band_census(
        mh,
        [F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")) for b in range(4)],
    )


def simhash_band_stats(documents: DataFrame) -> DataFrame:
    """Oracle-checkable SimHash banding census: a 16-bit simhash from
    md5-derived token hashes (majority vote per bit over each doc's
    distinct tokens), 4 nibble bands -> per-band bucket statistics
    (band, n_buckets, max_bucket, pairs_x2).

    Companion to the production simhash_near_dups (64-bit xxhash
    lanes): md5 is reproducible in DuckDB, so every vote, every bit and
    every bucket is driver-oracled. Tie votes (sum == 0) resolve to bit
    0 in both engines (strict > 0 test).

    Scale shape: token explode -> one 16-column vote aggregate ->
    compact (band, nibble) aggregate; all map-side combined."""
    toks = F.array_distinct(
        words(F.col("text"))
    )
    t = (
        documents.select("doc_id", F.explode(toks).alias("tok"))
        .filter(F.col("tok") != "")
    )
    v = F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("int")
    tv = t.select("doc_id", v.alias("v"))
    votes = tv.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("v"), b).bitwiseAND(F.lit(1)) == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(16)
        ]
    )
    sim = None
    for b in range(16):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    sims = votes.select("doc_id", sim.alias("sim"))
    return _band_census(
        sims,
        [F.shiftright(F.col("sim"), 4 * k).bitwiseAND(F.lit(15)) for k in range(4)],
    )


def paragraph_dedup(
    documents: DataFrame,
    unit_words: int | None = None,
    sep: str = "\n",
    emit_text: bool = False,
) -> DataFrame:
    """Corpus-wide paragraph-level exact deduplication (the CCNet /
    Wenzek et al. 2020 primitive: hash every paragraph, keep only the
    FIRST occurrence across the whole corpus, reconstruct each document
    from its surviving paragraphs).

    Units: with `unit_words=None` a paragraph is a `sep`-separated block
    of the (lower+trim normalized) text — the production shape for web
    pages. With `unit_words=w` the unit is a non-overlapping w-token
    chunk, which keeps the operator meaningful on corpora without line
    structure (the synthetic bench corpus) and makes the whole pipeline
    ANSI-SQL expressible: the per-unit key is md5 of the space-joined
    chunk, identical hex in Spark and DuckDB, so the oracle pins the
    kept/dropped decision AND the md5 of every reconstructed document
    bit-for-bit.

    First occurrence = lexicographic minimum (doc_id, unit_idx) via a
    struct min, like span_dup_stats (overflow-free for any document
    length). `sep` is a LITERAL separator (regex metacharacters are
    escaped before the split). Documents producing zero non-empty
    units (possible in newline mode) still emit a row with n_units=0.

    Emits per doc: n_units, n_kept, kept_frac, kept_text_md5 (md5 of the
    space-joined surviving units in original order — the deduplicated
    document body without shipping the body through the compare).

    Scale shape (100 TB): unit explode is map-only; first-occurrence
    selection is ONE hash-aggregate on the 16-byte unit key (map-side
    combined); the kept test joins occurrences back on that key (AQE
    skew-splits boilerplate paragraphs — exactly the skewed key this
    operator exists to delete); the per-doc rollup is one
    groupBy(doc_id) whose collect_list is bounded by document size. No
    global sorts, no driver collects.

    Reference parity note: the Delphi reference has no corpus operators;
    this extends its extraction sink the way its per-page first-seen-
    wins xref rule (src/vcl/*.pas xref load) resolves duplicate objects
    — first occurrence is canonical.
    """
    norm = F.trim(F.lower(F.col("text")))
    if unit_words is None:
        # F.split takes a Java regex; sep is documented as a literal,
        # so escape metacharacters ('.'/'|'/... would otherwise split
        # on every character / alternation)
        sep_rx = "".join(
            "\\" + ch if ch in "\\.[]{}()*+-?^$|" else ch for ch in sep
        )
        units = documents.select(
            "doc_id",
            F.posexplode(F.split(norm, sep_rx)).alias("idx", "unit"),
        ).select(
            "doc_id", "idx", F.trim(F.col("unit")).alias("unit")
        ).filter(F.length("unit") > 0)
    else:
        w = int(unit_words)
        t = F.split(norm, r"\s+")
        n_units = F.ceil(F.size(t) / F.lit(float(w))).cast("int")
        chunks = F.transform(
            F.sequence(F.lit(0), n_units - F.lit(1)),
            lambda i: F.concat_ws(" ", F.slice(t, i * w + 1, w)),
        )
        units = documents.select(
            "doc_id", F.posexplode(chunks).alias("idx", "unit")
        )
    # lexicographic struct min, not a packed long: overflow-free for
    # arbitrarily long documents (see span_dup_stats)
    occ = units.select(
        "doc_id",
        "idx",
        "unit",
        F.md5(F.col("unit")).alias("h"),
        F.struct("doc_id", "idx").alias("key"),
    )
    firsts = occ.groupBy("h").agg(F.min("key").alias("first_key"))
    marked = occ.join(firsts, "h").select(
        "doc_id",
        "idx",
        "unit",
        (F.col("key") == F.col("first_key")).alias("kept"),
    )
    kept_units = F.array_sort(
        F.collect_list(F.when(F.col("kept"), F.struct("idx", "unit")))
    )
    kept_join = F.concat_ws(
        " " if unit_words is not None else sep,
        F.transform(kept_units, lambda s: s["unit"]),
    )
    aggs = [
        F.count("*").alias("n_units"),
        F.sum(F.col("kept").cast("int")).cast("long").alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ", F.transform(kept_units, lambda s: s["unit"])
            )
        ).alias("kept_text_md5"),
    ]
    if emit_text:
        # the reconstructed document body (units re-joined with the
        # original separator in newline mode) — the REWRITE output a
        # curation job writes back; off by default so the oracled
        # md5-only shape is unchanged
        aggs.append(kept_join.alias("kept_text"))
    out = (
        marked.groupBy("doc_id")
        .agg(*aggs)
        .select(
            "doc_id",
            "n_units",
            "n_kept",
            (F.col("n_kept") / F.col("n_units")).alias("kept_frac"),
            "kept_text_md5",
            *(["kept_text"] if emit_text else []),
        )
    )
    if unit_words is None:
        # newline mode can drop every unit of a blank document; keep
        # the doc in the output (n_units=0) so doc_id-keyed joins
        # downstream don't silently lose it. Chunk mode always yields
        # >=1 unit, so the extra join is skipped there.
        out = (
            documents.select("doc_id")
            .join(out, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_units", F.lit(0)).alias("n_units"),
                F.coalesce("n_kept", F.lit(0).cast("long")).alias(
                    "n_kept"
                ),
                "kept_frac",
                F.coalesce("kept_text_md5", F.md5(F.lit(""))).alias(
                    "kept_text_md5"
                ),
                *(
                    [F.coalesce("kept_text", F.lit("")).alias("kept_text")]
                    if emit_text
                    else []
                ),
            )
        )
    return out.orderBy("doc_id")


def semdedup(
    embeddings: DataFrame,
    k: int = 8,
    threshold: float = 0.35,
    train: bool = False,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, 'SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication'): cluster the embedding
    space, then within each cluster mark every vector whose cosine to a
    LOWER-id cluster member reaches `threshold` as a semantic duplicate
    (keep-first, like every dedup operator here).

    Clustering: with `train=False` (default — the oracle-checkable
    mode) the k centroids are the k lowest-vec_id vectors, a
    deterministic seeding whose assignment argmax is expressible in
    ANSI SQL, so DuckDB pins cluster ids, centroid cosines AND the
    keep/drop verdicts bit-for-bit. With `train=True` the centroids come
    from the shared spherical-Lloyd trainer
    (similarity.kmeans_centroids) — the production mode, pinned by unit
    tests instead of SQL. Ties in the assignment argmax break toward the
    lowest cluster id in both engines (np.argmax takes the first
    maximum; the oracle orders by cosine DESC, cid ASC).

    Scale shape (100 TB): the centroid matrix is tiny and broadcast;
    assignment is map-only Arrow batches (one BLAS matmul per batch);
    the only shuffle is groupBy(cluster_id); the within-cluster gram is
    one BLAS product per cluster, row-blocked so memory stays
    ~block x n like embedding_near_dups. Cluster sizes are bounded by
    k's granularity — at web scale you raise k (SemDeDup uses 50k
    clusters for LAION) so each cluster fits an executor, exactly this
    code path.
    """
    if train:
        # scaled again: the trained rows are unit only up to rounding
        cmat = _unit(kmeans_centroids(embeddings, n_cells=k))
    else:
        cmat = _first_centroids(embeddings, k)
    bc = embeddings.sparkSession.sparkContext.broadcast(cmat)

    def assign(batches):
        c = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            cs = _unit(_matrix(pdf["embedding"])) @ c.T
            cid = np.argmax(cs, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cluster_id": cid.astype("int32"),
                    "centroid_cos": _round4(
                        cs[np.arange(len(cid)), cid]
                    ),
                    "embedding": pdf["embedding"],
                }
            )

    assigned = _vectors(embeddings).mapInPandas(
        assign,
        "vec_id long, cluster_id int, centroid_cos double, "
        "embedding array<double>",
    )

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        dup = np.zeros(len(pdf), dtype=bool)
        for lo, hi, c in _cosine_blocks(_unit(_matrix(pdf["embedding"]))):
            for r in range(lo, hi):
                if r > 0 and (c[r - lo, :r] >= threshold).any():
                    dup[r] = True
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "cluster_id": pdf["cluster_id"],
                "centroid_cos": pdf["centroid_cos"],
                "is_dup": dup,
            }
        )

    return assigned.groupBy("cluster_id").applyInPandas(
        prune,
        "vec_id long, cluster_id int, centroid_cos double, is_dup boolean",
    )
