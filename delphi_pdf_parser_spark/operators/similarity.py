"""Similarity search over the embeddings table.

Five top-k searchers, each returning (query_id, rank, vec_id, score)
ranked by 4-dp score with a vec_id tiebreak:

- `brute_force_topk`: broadcast the (small) query set, cross join,
  Arrow-batched cosine, window rank. The exactness baseline and the
  verify stage of every index below.
- `ann_lsh_topk`: deterministic random-hyperplane signatures (signs of
  hash-derived pseudo-random projections) and a multi-probe bucket
  join; the crossJoin disappears.
- `ivf_topk`: a spherical-k-means coarse quantizer
  (`kmeans_centroids`); a query scans only its n_probe nearest cells.
- `pq_topk`: product-quantized codes (`pq_train_codebooks`) scored by
  asymmetric distance, optionally re-ranked by exact cosine.
- `ivfpq_topk`: the two composed (IVFADC), on raw or residual codes.

They share one copy of each vector kernel, and `dedup.semdedup` and
`dedup.embedding_near_dups` import the same ones: `_vectors` (vec_id +
double embedding), `_matrix` (float64 rows), `_unit` (zero-guarded unit
rows), `_cell_udf` (nearest-centroid argmax), `_pq_codes` (subspace
argmin), `_train_rows` / `_first_centroids` (training sample and seeds),
`_query_side`, `_query_luts` and `_top_k` (the (score desc, vec_id asc)
window).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .parallelize import ensure_min_parallelism

# the candidate rows of every ADC scorer (see _adc_score_batches)
_ADC_SCHEMA = "query_id long, vec_id long, approx_cosine double"


def _vectors(df: DataFrame, *cols) -> DataFrame:
    """(vec_id, *cols, embedding) with the embedding as array<double>."""
    return df.select(
        "vec_id", *cols, F.col("embedding").cast("array<double>").alias("embedding")
    )


def _matrix(values) -> np.ndarray:
    """The (n, dim) float64 matrix of a column of vectors, (0, 0) for no
    vectors: trained on an empty table, centroids, codebooks and query
    LUTs come out empty and the search returns no rows."""
    rows = [np.asarray(v, dtype=np.float64) for v in values]
    return np.stack(rows) if rows else np.zeros((0, 0))


def _unit(m: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm; a zero row stays zero. Every cosine
    the oracle pins (semdedup clusters, IVF cells) goes through this
    exact expression."""
    n = np.linalg.norm(m, axis=1)
    n[n == 0] = 1.0
    return m / n[:, None]


def _cell_udf(bc):
    """Pandas UDF: each vector's nearest centroid among the broadcast
    unit rows `bc`, the argmax of its unit row's dot products (a tie
    goes to the lowest cell: np.argmax takes the first maximum)."""

    @pandas_udf("int")
    def cell_of(emb: pd.Series) -> pd.Series:
        return pd.Series(np.argmax(_unit(_matrix(emb)) @ bc.value.T, axis=1))

    return cell_of


def _first_centroids(embeddings: DataFrame, k: int) -> np.ndarray:
    """The k lowest-vec_id vectors as unit rows: the training-free
    centroids of ivf_topk(train="first") and semdedup(train=False)."""
    rows = _vectors(embeddings).orderBy("vec_id").limit(k).collect()
    return _unit(_matrix([r["embedding"] for r in rows]))


def _train_rows(embeddings: DataFrame, train_limit: int | None, n_seeds: int):
    """-> (training rows, seed matrix) for the Lloyd trainers. The rows
    are every vector or, with `train_limit`, the lowest-xxhash64(vec_id)
    ones (at 100 TB you train on a deterministic sample, not the
    corpus). The seeds are the n_seeds lowest-hash training rows: a
    pseudo-random but reproducible spread, unlike lowest-vec_id which
    clusters on ingest order. A smaller corpus gives fewer seeds, so the
    trainers size everything from the seed matrix."""
    e = _vectors(embeddings)
    if train_limit is not None:
        e = (
            e.withColumn("_h", F.xxhash64("vec_id"))
            .orderBy("_h", "vec_id")
            .limit(train_limit)
            .drop("_h")
            .localCheckpoint(eager=False)
        )
    seeds = e.orderBy(F.xxhash64("vec_id"), "vec_id").limit(n_seeds).collect()
    return e, _matrix([r["embedding"] for r in seeds])


def _query_side(queries: DataFrame) -> DataFrame:
    """(query_id, qvec array<double>): the probe side of every search."""
    return queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qvec"),
    )


def _top_k(scored: DataFrame, k: int, score_col: str = "cosine") -> DataFrame:
    """The k best rows per query under the total order (score desc,
    vec_id asc) -> (query_id, rank, vec_id, score_col)."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score_col), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", score_col)
    )


def _exact_top_k(joined: DataFrame, k: int) -> DataFrame:
    """Rank (embedding, qvec) candidate pairs by exact cosine, rounded
    to 4 dp BEFORE ranking: float32 inputs summed in different orders
    diverge around 1e-6, 4 dp + vec_id tiebreak is engine-stable."""
    cos = F.round(_cosine_arrow()(F.col("embedding"), F.col("qvec")), 4)
    return _top_k(joined.select("query_id", "vec_id", cos.alias("cosine")), k)


def _cosine_arrow():
    """Arrow-batched cosine: one vectorized NumPy pass per batch (row-wise
    dot + norms) instead of three interpreted higher-order array passes
    per row — `F.zip_with`/`F.aggregate` cannot be codegen'd and measured
    7-70x slower in this repo's other kernels (shingles, signatures,
    n-grams). The expression form `dedup._cosine` stays as the spec this
    UDF is pinned against
    (tests/test_similarity.py::test_cosine_arrow_matches_expression_form).
    IEEE semantics match Spark's double division (inf/nan on zero norms)."""

    @pandas_udf("double")
    def cosine(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        ma, mb = _matrix(a), _matrix(b)
        dots = np.einsum("ij,ij->i", ma, mb)
        den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            return pd.Series(dots / den)

    return cosine


def brute_force_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """queries(query_id, embedding) x embeddings(vec_id, embedding) ->
    top-k by cosine. Rank on rounded cosine with vec_id tiebreak so the
    result is engine-independent. The per-row einsum arithmetic does
    not depend on batch composition, so every cosine is bit-identical
    with or without the fan-out guard."""
    embeddings = ensure_min_parallelism(embeddings)
    q = F.broadcast(_query_side(queries))
    joined = _vectors(embeddings).crossJoin(q)
    return _exact_top_k(joined.filter(F.col("vec_id") != F.col("query_id")), k)


def _hyperplane_sign(vec, plane_seed: int):
    """Sign of a pseudo-random projection: plane component j is derived
    from xxhash64(seed, j) scaled to [-1, 1] — deterministic, no stored
    plane matrix, identical on every executor."""
    idx = F.sequence(F.lit(0), F.size(vec) - 1)
    comp = F.zip_with(
        vec,
        idx,
        lambda v, j: v
        * (
            (
                F.xxhash64(F.lit(plane_seed), j).cast("double")
                / F.lit(float(1 << 63))
            )
        ),
    )
    proj = F.aggregate(comp, F.lit(0.0).cast("double"), lambda a, v: a + v)
    return (proj >= 0).cast("int")


def lsh_signature(vec, num_planes: int = 12):
    """Expression-form signature (reference implementation). Interpreted
    higher-order functions evaluate one full array pass PER PLANE per row
    and Catalyst cannot codegen them — at corpus scale this is ~10x the
    cost of the Arrow matmul path below. Kept as the spec that
    `_signature_udf` is pinned against (tests/test_similarity.py)."""
    sig = F.lit(0)
    for p in range(num_planes):
        sig = sig + F.shiftleft(_hyperplane_sign(vec, p).cast("int"), p)
    return sig


def _plane_matrix(spark, dim: int, num_planes: int) -> np.ndarray:
    """The (num_planes, dim) hyperplane matrix with component (p, j) =
    xxhash64(p, j) / 2^63 — computed BY THE JVM's xxhash64 (tiny
    num_planes*dim-row query, driver-collected like IVF's centroids) so
    the planes are bit-identical to the expression form regardless of
    how Python-side hash libraries behave."""
    rows = spark.createDataFrame(
        [(p, j) for p in range(num_planes) for j in range(dim)],
        "p int, j int",
    )
    got = (
        rows.select(
            "p",
            "j",
            (
                F.xxhash64(F.col("p"), F.col("j")).cast("double")
                / F.lit(float(1 << 63))
            ).alias("w"),
        )
        .collect()
    )
    m = np.zeros((num_planes, dim), dtype=np.float64)
    for r in got:
        m[r["p"], r["j"]] = r["w"]
    return m


# plane component (p, j) is independent of the embedding dimension, so one
# wide matrix per (session, num_planes) serves every input — the UDF slices
# columns [:dim] per batch. Eliminates both the per-call plane job and any
# dimension-probe job (cached per session; ~100k-row JVM job once).
_MAX_PLANE_DIM = 8192


def _plane_broadcast(spark, num_planes: int):
    # cache lives as an attribute ON the context (not an id()-keyed module
    # dict: an id can alias a new context allocated at the same address
    # after teardown)
    sc = spark.sparkContext
    cache = getattr(sc, "_graft_plane_cache", None)
    if cache is None:
        cache = {}
        sc._graft_plane_cache = cache
    bc = cache.get(num_planes)
    if bc is None:
        bc = sc.broadcast(_plane_matrix(spark, _MAX_PLANE_DIM, num_planes))
        cache[num_planes] = bc
    return bc


def _signature_udf(spark, num_planes: int):
    """Arrow-batched signature: ONE NumPy matmul per batch computes all
    plane projections at once (vs num_planes interpreted array passes
    per row in the expression form). This is the per-vector pass over
    the whole corpus at scale, so it must be the vectorized one."""
    bc = _plane_broadcast(spark, num_planes)
    weights = (1 << np.arange(num_planes)).astype(np.int64)

    @pandas_udf("int")
    def signature(emb: pd.Series) -> pd.Series:
        planes = bc.value
        m = _matrix(emb)
        d = m.shape[1]
        if d > planes.shape[1]:
            raise ValueError(
                f"embedding dim {d} exceeds precomputed plane dim "
                f"{planes.shape[1]}; raise similarity._MAX_PLANE_DIM"
            )
        signs = (m @ planes[:, :d].T) >= 0.0
        return pd.Series((signs @ weights).astype("int32"))

    return signature


def _probe_udf(spark, num_planes: int, n_probe: int):
    """Multi-probe bucket list per query: the signature bucket plus
    single-bit flips of the (n_probe - 1) planes with the smallest
    |projection| — vectors near a hyperplane boundary land on either side
    of exactly those planes, so flipping them recovers the neighbors a
    single-bucket probe loses (the standard multi-probe LSH heuristic)."""
    bc = _plane_broadcast(spark, num_planes)
    weights = (1 << np.arange(num_planes)).astype(np.int64)

    @pandas_udf("array<int>")
    def probes(emb: pd.Series) -> pd.Series:
        planes = bc.value
        if len(emb) == 0:
            return pd.Series([], dtype="object")
        m = _matrix(emb)
        proj = m @ planes[:, : m.shape[1]].T  # (n, num_planes)
        sig = ((proj >= 0.0) @ weights).astype(np.int64)
        order = np.argsort(np.abs(proj), axis=1, kind="stable")
        n_flip = min(n_probe - 1, num_planes)
        out = []
        for i in range(len(sig)):
            buckets = [int(sig[i])]
            for t in range(n_flip):
                buckets.append(int(sig[i]) ^ (1 << int(order[i, t])))
            out.append(buckets)
        return pd.Series(out)

    return probes


def ann_lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    n_probe: int = 3,
) -> DataFrame:
    """Approximate top-k: candidates share one of the query's n_probe
    hyperplane buckets (its own plus the lowest-|projection| bit flips).
    Corpus vectors are signed once (one bucket each); only the tiny
    broadcast query side fans out n_probe-fold, so the join stays linear
    in the corpus."""
    spark = embeddings.sparkSession
    sig = _signature_udf(spark, num_planes)
    e = _vectors(embeddings).withColumn("bucket", sig(F.col("embedding")))
    probes = _probe_udf(spark, num_planes, n_probe)
    q = F.broadcast(
        _query_side(queries).withColumn("bucket", F.explode(probes(F.col("qvec"))))
    )
    joined = e.join(q, on="bucket").filter(F.col("vec_id") != F.col("query_id"))
    return _exact_top_k(joined, k)


def kmeans_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    max_iter: int = 5,
    train_limit: int | None = None,
) -> np.ndarray:
    """Spherical k-means (Lloyd) as a Spark job, for IVF coarse-quantizer
    training. Deterministic throughout: seeds and the optional
    `train_limit` sample come from `_train_rows` (lowest xxhash64), and
    each Lloyd iteration is one distributed pass — Arrow-batched
    assignment against broadcast centroids, then a posexplode + (cell,
    pos) sum/count hash-agg (map-side combined, JVM-side) whose
    n_cells x dim result is the only collect. Empty cells keep their
    previous centroid. Centroids are L2-normalized (the metric is
    cosine); a corpus of fewer than n_cells vectors gets one centroid
    per vector."""
    e, cmat = _train_rows(embeddings, train_limit, n_cells)
    cmat = _unit(cmat)
    sc = embeddings.sparkSession.sparkContext
    for _ in range(max_iter):
        bc = sc.broadcast(cmat)
        stats = (
            e.select(_cell_udf(bc)("embedding").alias("cell"), "embedding")
            .select("cell", F.posexplode("embedding").alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new = cmat.copy()
        sums = np.zeros_like(cmat)
        counts = np.zeros(len(cmat))
        for r in stats:
            sums[r["cell"], r["pos"]] = r["s"]
            counts[r["cell"]] = r["n"]
        nonempty = counts > 0
        new[nonempty] = sums[nonempty] / counts[nonempty, None]
        cmat = _unit(new)
        bc.unpersist()
    return cmat


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    train: str = "kmeans",
) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse quantizer assigns every vector to
    its nearest-centroid cell; a query probes only its n_probe nearest
    cells and brute-forces within them. With n_probe == n_cells this
    degenerates to EXACT brute force (every vector is in exactly one
    probed cell) — which is how the oracle pins it (training-independent:
    every cell is probed regardless of where the centroids sit).

    Training (`train`): "kmeans" (default) runs the spherical-Lloyd Spark
    job above for balanced cells; "first" takes the n_cells lowest
    vec_ids — the cheap plumbing-only mode the full-probe oracle query
    uses, where centroid quality cannot affect the result. The scale
    story: the centroid set is tiny (broadcast), assignment is a map-only
    pass, and the search join fans each query out to n_probe cells
    instead of the whole corpus.
    """
    if train == "kmeans":
        cmat = kmeans_centroids(embeddings, n_cells=n_cells)
    else:
        cmat = _first_centroids(embeddings, n_cells)
    bc = embeddings.sparkSession.sparkContext.broadcast(cmat)

    @pandas_udf("array<int>")
    def probe_cells(emb: pd.Series) -> pd.Series:
        sims = _unit(_matrix(emb)) @ bc.value.T
        order = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series(list(order.astype("int32")))

    e = _vectors(embeddings).withColumn("cell", _cell_udf(bc)("embedding"))
    q = F.broadcast(
        _query_side(queries).withColumn("cell", F.explode(probe_cells("qvec")))
    )
    joined = e.join(q, on="cell").filter(F.col("vec_id") != F.col("query_id"))
    return _exact_top_k(joined, k)


# --- product quantization (IVF-PQ's compression half) -------------------------


def _pq_codes(mat: np.ndarray, books: np.ndarray, normalize: bool) -> np.ndarray:
    """(n, m) int32 codes: per subspace s, the index of the codeword of
    books[s] nearest (squared L2) to each row's s-th slice; rows are
    unit-scaled first when `normalize`."""
    if normalize:
        mat = _unit(mat)
    m, _, dsub = books.shape
    out = np.empty((len(mat), m), dtype=np.int32)
    for s in range(m):
        sub = mat[:, s * dsub : (s + 1) * dsub]
        d2 = (
            (sub ** 2).sum(1)[:, None]
            - 2.0 * sub @ books[s].T
            + (books[s] ** 2).sum(1)[None, :]
        )
        out[:, s] = np.argmin(d2, axis=1)
    return out


def _pq_encoder_udf(bc, normalize: bool = True):
    """Arrow pandas_udf mapping an embedding column to its m subspace
    code indices against the broadcast codebooks `bc` — shared by the
    codebook trainer, pq_encode and the IVF-PQ corpus pass (which
    computes codes and cell in ONE scan)."""

    @pandas_udf("array<int>")
    def enc(emb: pd.Series) -> pd.Series:
        return pd.Series(list(_pq_codes(_matrix(emb), bc.value, normalize)))

    return enc


def pq_train_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    kcodes: int = 16,
    max_iter: int = 5,
    train_limit: int | None = None,
    normalize: bool = True,
) -> np.ndarray:
    """Product-quantization codebooks -> (m, kcodes, dim/m): split the
    (L2-normalized) vector into m subvectors and run Euclidean Lloyd
    k-means independently per subspace — the memory-compression half of
    IVF-PQ, the standard layout for web-scale ANN (an encoded vector is
    m bytes instead of 4*dim).

    Distributed the same way as kmeans_centroids: `_train_rows` seeds
    and sample, per-iteration Arrow-batched assignment against broadcast
    codebooks, then ONE (sub, code, pos) sum/count hash-agg (map-side
    combined) whose m*kcodes*dsub result is the only collect. A corpus
    of fewer than kcodes vectors gets one code per vector."""
    e, seeds = _train_rows(embeddings, train_limit, kcodes)
    if normalize:
        seeds = _unit(seeds)
    dim = seeds.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    # (m, kcodes, dsub): subspace s seeded with every seed's s-th slice
    books = np.stack(
        [seeds[:, s * dsub : (s + 1) * dsub] for s in range(m)]
    ).copy()
    sc = embeddings.sparkSession.sparkContext
    for _ in range(max_iter):
        bc = sc.broadcast(books)
        assign = _pq_encoder_udf(bc, normalize)
        stats = (
            e.select(assign("embedding").alias("codes"), "embedding")
            .select("codes", F.posexplode("embedding").alias("pos", "v"))
            .select(
                (F.col("pos") / dsub).cast("int").alias("sub"),
                F.element_at(
                    "codes", ((F.col("pos") / dsub).cast("int") + 1)
                ).alias("code"),
                "pos",
                "v",
            )
            .groupBy("sub", "code", "pos")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new = books.copy()
        sums = np.zeros_like(books)
        counts = np.zeros(books.shape[:2])
        for r in stats:
            sums[r["sub"], r["code"], r["pos"] % dsub] = r["s"]
            counts[r["sub"], r["code"]] = r["n"]
        nonempty = counts > 0
        for s in range(m):
            ne = nonempty[s]
            new[s][ne] = sums[s][ne] / counts[s][ne][:, None]
        books = new
        bc.unpersist()
    return books


def pq_encode(embeddings: DataFrame, books: np.ndarray) -> DataFrame:
    """-> (vec_id, codes array<int>): each (normalized) vector reduced
    to m subspace code indices — the m-byte representation that makes
    100 TB of embeddings fit scan-speed ANN."""
    enc = _pq_encoder_udf(embeddings.sparkSession.sparkContext.broadcast(books))
    return embeddings.select(
        "vec_id",
        enc(F.col("embedding").cast("array<double>")).alias("codes"),
    )


def _adc_score_batches(bc, keep: int):
    """Arrow-batch ADC scorer with an in-batch partial top-k.

    Emits, per Arrow batch, only each query's `keep` best rows under
    the SAME total order the downstream global window uses
    ((approx_cosine desc, vec_id asc), on the already-rounded scores)
    with the self-match removed in-batch — so the union over batches
    provably contains the global top-`keep` and the shuffle into the
    shortlist window is O(n_batches * nq * keep), independent of corpus
    size. `bc` is a broadcast (or any .value holder) of (qids, lut) or,
    for IVF-PQ, (qids, lut, probe_masks[, bias]) where probe_masks is an
    (nq, n_cells) bool array and the batch carries a `cell` column —
    each query then scores only rows in its probed cells. The optional
    bias is an (nq, n_cells) float array added to every row's score by
    its cell: the residual-IVFADC decomposition
    <q, c_cell + r_hat> = <q, c_cell> + LUT-sum, which is what lets ONE
    shared codebook set serve every cell."""

    def score_batches(batches):
        payload = bc.value
        qids_, lut_ = payload[0], payload[1]
        probes_ = payload[2] if len(payload) > 2 else None
        bias_ = payload[3] if len(payload) > 3 else None
        nq = len(qids_)
        mm = lut_.shape[1]
        ar = np.arange(mm)
        for b in batches:
            codes = np.stack(
                [np.asarray(c, dtype=np.int64) for c in b["codes"]]
            )
            vids = b["vec_id"].to_numpy()
            cells = (
                b["cell"].to_numpy()
                if (probes_ is not None or bias_ is not None)
                else None
            )
            # (nq, B): sum of per-subspace LUT entries along each code row
            raw = np.stack(
                [lut_[qi][ar, codes].sum(axis=1) for qi in range(nq)]
            )
            if bias_ is not None and cells is not None:
                raw = raw + bias_[:, cells]
            scores = np.round(raw, 4)
            out_q, out_v, out_s = [], [], []
            for qi in range(nq):
                s, v = scores[qi], vids
                mask = v != qids_[qi]  # self-match out before the cut
                if probes_ is not None:
                    mask &= probes_[qi][cells]
                s, v = s[mask], v[mask]
                # total order (s desc, v asc): lexsort's LAST key is
                # primary
                order = np.lexsort((v, -s))[:keep]
                out_q.append(np.full(len(order), qids_[qi], dtype=np.int64))
                out_v.append(v[order])
                out_s.append(s[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "approx_cosine": np.concatenate(out_s),
                }
            )

    return score_batches


def _query_luts(queries: DataFrame, books: np.ndarray):
    """-> (qids, unit query matrix, LUT) over the queries collected in
    query_id order, LUT[q, s, c] = <query subvector s, books[s][c]>.
    The queries are the tiny side, driver-resident anyway because they
    feed the broadcast LUT."""
    rows = _query_side(queries).orderBy("query_id").collect()
    qids = np.array([r["query_id"] for r in rows], dtype=np.int64)
    qmat = _unit(_matrix([r["qvec"] for r in rows]))
    dsub = books.shape[2]
    lut = np.stack(
        [
            qmat[:, s * dsub : (s + 1) * dsub] @ books[s].T
            for s in range(books.shape[0])
        ],
        axis=1,
    )
    return qids, qmat, lut


def _pq_scored(
    embeddings: DataFrame, queries: DataFrame, books: np.ndarray, keep: int
) -> DataFrame:
    """Encode the corpus with `books` and ADC-score it against
    `queries`, emitting at most nq*keep candidate rows per Arrow batch
    (see _adc_score_batches). Split out of pq_topk so tests can pin the
    exchange row bound directly."""
    enc = pq_encode(embeddings, books)
    qids, _, lut = _query_luts(queries, books)
    bc = embeddings.sparkSession.sparkContext.broadcast((qids, lut))
    return enc.mapInPandas(_adc_score_batches(bc, keep), _ADC_SCHEMA)


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 32,
    kcodes: int = 16,
    max_iter: int = 5,
    train_limit: int | None = None,
    refine_factor: int = 0,
) -> DataFrame:
    """PQ asymmetric-distance ANN: corpus vectors live as m-byte codes
    (m=32, kcodes=16 -> 32 bytes/vector, 8x smaller than float32 at
    dim 64 and the scan never touches a float vector); each query
    precomputes an (m x kcodes) inner-product lookup table against the
    codebooks (driver-side — queries are the tiny broadcast side, same
    as the LSH planes / k-means seeds collects), and scoring a vector
    is m table lookups + a sum over its codes. Top-k by approximate
    cosine with vec_id tiebreak.

    `refine_factor > 0` adds the production second stage: the ADC pass
    shortlists k*refine_factor candidates per query, which are then
    re-ranked by EXACT cosine against the original vectors (one join of
    the tiny shortlist back to the embeddings table) — compressed-scan
    speed with near-exact recall. Recall both ways is measured against
    brute force in tests/test_similarity.py.

    Scale shape: the ADC scorer cuts its own per-batch top-`keep` per
    query INSIDE the Arrow batch (same (score desc, vec_id asc) total
    order as the global ranking, self-match excluded in-batch), so the
    exchange feeding the shortlist window carries at most
    n_batches * nq * keep rows — NOT the nq * corpus cross product.
    Per-batch cut with the global total order is exact: a row in the
    global top-keep is necessarily in its own batch's top-keep."""
    books = pq_train_codebooks(
        embeddings, m=m, kcodes=kcodes, max_iter=max_iter,
        train_limit=train_limit,
    )
    keep = k * refine_factor if refine_factor else k
    scored = _pq_scored(embeddings, queries, books, keep)
    return _cut_or_rerank(scored, embeddings, queries, k, refine_factor)


def _cut_or_rerank(
    scored: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    refine_factor: int,
) -> DataFrame:
    """Shared ADC tail: rank the (already batch-bounded) candidate
    stream; with refine_factor, cut a k*rf shortlist and re-rank it by
    EXACT cosine via one join of the tiny shortlist back to the
    embeddings table (queries stay the broadcast side)."""
    if not refine_factor:
        return _top_k(scored, k, "approx_cosine")
    shortlist = _top_k(scored, k * refine_factor, "approx_cosine").select(
        "query_id", "vec_id"
    )
    q = F.broadcast(_query_side(queries))
    # the shortlist is nq*k*rf rows — broadcast it so the (100-TB)
    # embeddings table is NEVER shuffled by vec_id for the re-rank;
    # without the hint this leans on AQE to discover the small side
    joined = F.broadcast(shortlist).join(_vectors(embeddings), "vec_id")
    return _exact_top_k(joined.join(q, "query_id"), k)


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 32,
    kcodes: int = 16,
    max_iter: int = 5,
    train_limit: int | None = None,
    refine_factor: int = 10,
    residual: bool = False,
) -> DataFrame:
    """IVF x PQ — the production web-scale ANN layout (both halves of
    Jégou et al.'s IVFADC, composed): a spherical-k-means coarse
    quantizer partitions the corpus into cells, every vector is stored
    as an m-byte PQ code WITH its cell id (computed in ONE scan of the
    embeddings table), and a query (1) picks its n_probe nearest cells
    driver-side against the broadcast centroid matrix, (2) ADC-scans
    ONLY rows of probed cells — the scan is prefiltered to the union of
    all probed cells (with a cell-partitioned codes table at 100 TB this
    is partition pruning; locally it's a pushed-down `cell IN (...)`
    filter) and each query is masked to its own probe set inside the
    Arrow batch, (3) keeps the per-batch top-k*refine_factor (the same
    bounded-exchange cut as pq_topk), and (4) exact-cosine re-ranks the
    k*rf shortlist.

    `residual=False` quantizes the raw (normalized) vectors;
    `residual=True` is the canonical IVFADC form — codes quantize
    v_norm - centroid(cell), trained on the residual distribution
    (tighter spread -> better recall at equal m), and scoring uses the
    decomposition <q, c_cell + r_hat> = <q, c_cell> + LUT-sum: the
    per-(query, cell) bias matrix broadcasts with the LUT, so ONE
    shared codebook set still serves every cell. The exact re-rank
    stage recovers exactness either way. With n_probe == n_cells
    every vector is scanned regardless of centroid placement, which is
    how the driver oracle pins this end-to-end ≡ brute force (training-
    independent, same trick as ann_pq_rerank_topk)."""
    spark = embeddings.sparkSession
    cmat = kmeans_centroids(
        embeddings, n_cells=n_cells, max_iter=max_iter,
        train_limit=train_limit,
    )
    keep = k * refine_factor if refine_factor else k

    bc_cent = spark.sparkContext.broadcast(cmat)
    cell_of = _cell_udf(bc_cent)
    emb_d = F.col("embedding").cast("array<double>")
    if residual:

        @pandas_udf("array<double>")
        def residual_of(emb: pd.Series) -> pd.Series:
            c = bc_cent.value
            mat = _unit(_matrix(emb))
            return pd.Series(list(mat - c[np.argmax(mat @ c.T, axis=1)]))

        res_df = embeddings.select(
            "vec_id", residual_of(emb_d).alias("embedding")
        )
        # codebooks trained on the RESIDUAL distribution, unnormalized
        books = pq_train_codebooks(
            res_df, m=m, kcodes=kcodes, max_iter=max_iter,
            train_limit=train_limit, normalize=False,
        )
        enc = _pq_encoder_udf(spark.sparkContext.broadcast(books), normalize=False)
        codes = embeddings.select(
            "vec_id",
            cell_of(emb_d).alias("cell"),
            enc(residual_of(emb_d)).alias("codes"),
        )
    else:
        books = pq_train_codebooks(
            embeddings, m=m, kcodes=kcodes, max_iter=max_iter,
            train_limit=train_limit,
        )
        enc = _pq_encoder_udf(spark.sparkContext.broadcast(books))
        # one scan: vec_id + cell + m-byte codes (the stored layout)
        codes = embeddings.select(
            "vec_id",
            cell_of(emb_d).alias("cell"),
            enc(emb_d).alias("codes"),
        )

    # probe cells + LUT in one pass over the collected queries
    qids, qmat, lut = _query_luts(queries, books)
    sims = qmat @ cmat.T
    # deterministic probe pick: (sim desc, cell asc), over the centroids
    # actually trained (a corpus smaller than n_cells has fewer)
    cells = np.broadcast_to(np.arange(sims.shape[1]), sims.shape)
    order = np.lexsort((cells, -sims))
    probe_masks = np.zeros(sims.shape, dtype=bool)
    for qi in range(len(qids)):
        probe_masks[qi, order[qi, :n_probe]] = True
    probed_union = sorted(int(c) for c in np.where(probe_masks.any(axis=0))[0])

    # residual mode: score = <q, c_cell> + LUT-sum — ship the per-
    # (query, cell) bias (== sims, already computed for probing)
    payload = (
        (qids, lut, probe_masks, sims)
        if residual
        else (qids, lut, probe_masks)
    )
    bc = spark.sparkContext.broadcast(payload)
    pruned = codes.filter(F.col("cell").isin(probed_union))
    scored = pruned.mapInPandas(_adc_score_batches(bc, keep), _ADC_SCHEMA)
    return _cut_or_rerank(scored, embeddings, queries, k, refine_factor)
