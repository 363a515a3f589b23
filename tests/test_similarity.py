"""ANN-LSH signature vectorization: the Arrow matmul signature must be
bit-identical to the expression-form reference on real embeddings, and
ann_lsh_topk's rows must not drift from the r1 implementation."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from delphi_pdf_parser_spark.operators.similarity import (
    _signature_udf,
    ann_lsh_topk,
    lsh_signature,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01")


def _embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_arrow_signature_matches_expression_form(spark):
    emb = _embeddings(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    for num_planes in (8, 12):
        sig = _signature_udf(spark, num_planes)
        both = emb.select(
            "vec_id",
            sig(F.col("embedding")).alias("fast"),
            lsh_signature(F.col("embedding"), num_planes).alias("ref"),
        )
        bad = both.filter(F.col("fast") != F.col("ref")).count()
        assert bad == 0, f"{bad} signature mismatches at num_planes={num_planes}"


def test_ann_lsh_topk_rows_pinned(spark):
    """Same (query_id, rank, vec_id) rows as the r1 expression-form path
    (the queries are the 5 lowest vec_ids, matching __spark_entry__).
    n_probe=1 pins the single-bucket spec; multi-probe is covered by the
    recall test below."""
    emb = _embeddings(spark)
    queries = emb.orderBy("vec_id").limit(5)
    got = {
        (r["query_id"], r["rank"], r["vec_id"])
        for r in ann_lsh_topk(emb, queries, k=3, n_probe=1).collect()
    }
    # reference rows computed with the expression-form signature
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).withColumn("bucket", lsh_signature(F.col("embedding"), 8))
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("qvec"),
        ).withColumn("bucket", lsh_signature(F.col("qvec"), 8))
    )
    from delphi_pdf_parser_spark.operators.dedup import _cosine
    from pyspark.sql import Window

    joined = e.join(q, on="bucket").filter(F.col("vec_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        "vec_id",
        F.round(_cosine(F.col("embedding"), F.col("qvec")), 4).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    want = {
        (r["query_id"], r["rank"], r["vec_id"])
        for r in scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .collect()
    }
    assert got == want
    assert got, "empty ANN result"


def test_cosine_arrow_matches_expression_form(spark):
    """The Arrow cosine kernel (one batched matmul) must agree with the
    pinned expression spec dedup._cosine to 4 dp on real embeddings."""
    from delphi_pdf_parser_spark.operators.dedup import _cosine
    from delphi_pdf_parser_spark.operators.similarity import _cosine_arrow

    emb = _embeddings(spark).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    a = emb.alias("a")
    b = emb.filter(F.col("vec_id") < 20).alias("b")
    pairs = a.crossJoin(
        b.select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
    )
    both = pairs.select(
        F.round(_cosine_arrow()(F.col("embedding"), F.col("qvec")), 4).alias(
            "fast"
        ),
        F.round(_cosine(F.col("embedding"), F.col("qvec")), 4).alias("ref"),
    )
    bad = both.filter(F.col("fast") != F.col("ref")).count()
    assert bad == 0, f"{bad} cosine mismatches between Arrow and expression"


def _clustered_embeddings(spark, n_clusters=8, per=60, dim=16, spread=0.2):
    """Planted-cluster corpus: LSH recall is only meaningful when true
    neighbors are actually close (the sf parquet embeddings are near-
    uniform, where no sublinear index can beat chance)."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(n_clusters, dim)) * 4
    rows = []
    vid = 0
    for c in range(n_clusters):
        pts = centers[c] + rng.normal(size=(per, dim)) * spread
        for p in pts:
            rows.append((vid, [float(x) for x in p]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _recall_vs_bruteforce(spark, emb, n_probe: int, k: int = 5) -> float:
    from delphi_pdf_parser_spark.operators.similarity import brute_force_topk

    queries = emb.filter(F.col("vec_id") % 30 == 0)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=k).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in ann_lsh_topk(emb, queries, k=k, n_probe=n_probe).collect()
    }
    return len(exact & approx) / len(exact)


def test_multiprobe_improves_recall(spark):
    """Multi-probe LSH (bit-flips of the lowest-|projection| planes) must
    not lose recall vs single-probe, and must reach a usable floor on a
    clustered corpus where true neighbors are close."""
    emb = _clustered_embeddings(spark)
    r1 = _recall_vs_bruteforce(spark, emb, n_probe=1)
    r3 = _recall_vs_bruteforce(spark, emb, n_probe=3)
    assert r3 >= r1, f"multi-probe recall {r3} < single-probe {r1}"
    assert r3 >= 0.6, f"multi-probe recall@5 too low: {r3}"


def test_kmeans_cells_balanced(spark):
    """Spherical k-means centroids on a clustered corpus: every planted
    cluster gets a dedicated cell and assignment balance is bounded
    (max/median below 4), unlike lowest-vec_id 'training' which collapses
    onto whichever cluster the first ids came from."""
    import numpy as np
    from delphi_pdf_parser_spark.operators.similarity import kmeans_centroids

    rng = np.random.default_rng(7)
    n_clusters, per, dim = 8, 60, 16
    centers = rng.normal(size=(n_clusters, dim)) * 4
    rows = []
    vid = 0
    for c in range(n_clusters):
        pts = centers[c] + rng.normal(size=(per, dim)) * 0.2
        for p in pts:
            rows.append((vid, [float(x) for x in p]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cmat = kmeans_centroids(df, n_cells=n_clusters, max_iter=8)
    m = np.stack([np.array(r["embedding"]) for r in df.collect()])
    m = m / np.linalg.norm(m, axis=1)[:, None]
    assign = np.argmax(m @ cmat.T, axis=1)
    counts = np.bincount(assign, minlength=n_clusters)
    nonzero = counts[counts > 0]
    assert (counts > 0).sum() == n_clusters, f"empty cells: {counts}"
    ratio = nonzero.max() / np.median(nonzero)
    assert ratio < 4, f"cell imbalance max/median={ratio:.2f} ({counts})"


def test_pq_adc_recall_and_rerank_exactness(spark):
    """PQ: the raw ADC shortlist must carry real signal (recall@5 >= 0.5
    vs brute force at 32x16 codes on the synthetic 64-dim embeddings),
    and the production two-stage form (ADC shortlist -> exact-cosine
    re-rank at refine_factor=10) must reproduce brute force EXACTLY —
    values, ranks and all (the property the driver oracle relies on)."""
    from pyspark.sql import functions as F

    from delphi_pdf_parser_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = e.filter(F.col("vec_id") < 5)
    bf = brute_force_topk(e, qs, k=5).collect()
    bf_set = {(r["query_id"], r["vec_id"]) for r in bf}

    adc = pq_topk(e, qs, k=5).collect()
    adc_set = {(r["query_id"], r["vec_id"]) for r in adc}
    assert len(bf_set & adc_set) / len(bf_set) >= 0.5

    refined = pq_topk(e, qs, k=5, refine_factor=10).collect()
    assert sorted(map(tuple, refined)) == sorted(map(tuple, bf))


def test_pq_encode_roundtrip_quality(spark):
    """pq_encode: decoding a vector from its codes (centroid
    concatenation) must be closer to the original than to a random
    other vector, i.e. the codebooks actually quantize."""
    import numpy as np
    from pyspark.sql import functions as F

    from delphi_pdf_parser_spark.operators.similarity import (
        pq_encode,
        pq_train_codebooks,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    books = pq_train_codebooks(e, m=16, kcodes=16)
    rows = (
        pq_encode(e, books)
        .join(e.select("vec_id", "embedding"), "vec_id")
        .orderBy("vec_id")
        .limit(20)
        .collect()
    )
    m, _, dsub = books.shape
    vecs = []
    recons = []
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        v /= np.linalg.norm(v)
        rec = np.concatenate([books[s][r["codes"][s]] for s in range(m)])
        vecs.append(v)
        recons.append(rec)
    own = np.mean(
        [np.linalg.norm(v - r) for v, r in zip(vecs, recons)]
    )
    cross = np.mean(
        [np.linalg.norm(vecs[i] - recons[(i + 7) % 20]) for i in range(20)]
    )
    assert own < cross * 0.8, (own, cross)


def test_pq_scored_exchange_row_bound(spark):
    """VERDICT r4 #1: the ADC stage must cut its shortlist per Arrow
    batch, so the exchange into the global shortlist window carries at
    most n_partitions * nq * keep rows — not nq * corpus. Also pins
    that the per-batch cut is EXACT: the global top-keep from the
    bounded stream equals the top-keep of an unbounded rescoring."""
    import numpy as np
    from pyspark.sql import functions as F

    from delphi_pdf_parser_spark.operators.similarity import (
        _pq_scored,
        pq_train_codebooks,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = e.filter(F.col("vec_id") < 5)
    nq, keep = 5, 20
    books = pq_train_codebooks(e, m=16, kcodes=16)
    scored = _pq_scored(e, qs, books, keep)
    n_parts = scored.rdd.getNumPartitions()
    n_corpus = e.count()
    n_rows = scored.count()
    # the cut is per ARROW BATCH: each partition yields
    # ceil(rows/maxRecordsPerBatch) batches, each emitting <= nq*keep
    batch = int(
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    )
    max_batches = n_parts + n_corpus // batch
    assert n_rows <= max_batches * nq * keep, (n_rows, n_parts, max_batches)
    assert n_rows < nq * n_corpus  # strictly better than the old shape
    # exactness of the per-batch cut: global top-keep from the bounded
    # stream == top-keep over ALL scores (keep >= corpus forces the
    # scorer to emit everything)
    full = _pq_scored(e, qs, books, n_corpus).toPandas()
    bounded = scored.toPandas()

    def topk(df):
        out = {}
        for qid, g in df.groupby("query_id"):
            g = g.sort_values(
                ["approx_cosine", "vec_id"], ascending=[False, True]
            ).head(keep)
            out[qid] = list(zip(g["vec_id"], g["approx_cosine"]))
        return out

    assert topk(bounded) == topk(full)


def test_ivfpq_full_probe_equals_brute_force(spark):
    """IVF x PQ composed (VERDICT r4 #3): at n_probe == n_cells every
    vector is ADC-scanned regardless of centroid placement, and the
    exact re-rank at refine_factor=10 must reproduce brute force
    EXACTLY — the property the driver oracle pins."""
    from pyspark.sql import functions as F

    from delphi_pdf_parser_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = e.filter(F.col("vec_id") < 5)
    bf = brute_force_topk(e, qs, k=5).collect()
    out = ivfpq_topk(
        e, qs, k=5, n_cells=8, n_probe=8, refine_factor=10
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, bf))


def test_ivfpq_partial_probe_recall_and_pruning(spark):
    """IVF x PQ at n_probe < n_cells: the scan is restricted to probed
    cells (candidate stream strictly smaller than the full-probe one)
    and recall@5 vs brute force stays useful (>= 0.5 on the synthetic
    clustered embeddings)."""
    from pyspark.sql import functions as F

    from delphi_pdf_parser_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = e.filter(F.col("vec_id") < 5)
    bf_set = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(e, qs, k=5).collect()
    }
    out = ivfpq_topk(
        e, qs, k=5, n_cells=8, n_probe=3, refine_factor=10
    ).collect()
    got = {(r["query_id"], r["vec_id"]) for r in out}
    assert len(bf_set & got) / len(bf_set) >= 0.5
    # each query still returns a full (or near-full) top-k from its cells
    from collections import Counter

    per_q = Counter(r["query_id"] for r in out)
    assert all(v == 5 for v in per_q.values()), per_q


def test_ivfpq_residual_exactness_and_recall_gain(spark):
    """Residual IVFADC: (a) full probe + rf=10 still reproduces brute
    force exactly; (b) on a moderately-spread clustered corpus the raw
    ADC shortlist built on residual codes recalls FAR better than
    raw-vector codes at equal m (the published IVFADC result: residuals
    have much tighter spread than the vectors, so the same code budget
    resolves finer)."""
    import numpy as np
    from pyspark.sql import functions as F

    from delphi_pdf_parser_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 16)) * 4
    rows = []
    vid = 0
    for c in range(8):
        for p in centers[c] + rng.normal(size=(40, 16)) * 1.0:
            rows.append((vid, [float(x) for x in p]))
            vid += 1
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = e.filter(F.col("vec_id") < 5)
    bf = brute_force_topk(e, qs, k=5).collect()
    bf_set = {(r["query_id"], r["vec_id"]) for r in bf}

    out = ivfpq_topk(
        e, qs, k=5, n_cells=8, n_probe=8, m=8, kcodes=16,
        refine_factor=10, residual=True,
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, bf))

    def recall(residual):
        got = {
            (r["query_id"], r["vec_id"])
            for r in ivfpq_topk(
                e, qs, k=5, n_cells=8, n_probe=8, m=8, kcodes=16,
                refine_factor=0, residual=residual,
            ).collect()
        }
        return len(bf_set & got) / len(bf_set)

    r_res, r_raw = recall(True), recall(False)
    # measured: ~0.44 residual vs ~0.08 raw at m=8 on this corpus
    assert r_res > r_raw, (r_res, r_raw)
    assert r_res >= 0.3, r_res


def _tiny_corpus(spark, n=5, dim=32):
    """Fewer vectors than the cells and codes the trainers ask for."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_kmeans_on_corpus_smaller_than_n_cells(spark):
    """5 vectors, n_cells=8: k-means trains one centroid per vector and
    the full probe still equals brute force."""
    from delphi_pdf_parser_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    e = _tiny_corpus(spark)
    bf = brute_force_topk(e, e, k=5).collect()
    out = ivf_topk(e, e, k=5, n_cells=8, n_probe=8, train="kmeans").collect()
    assert len(bf) == 20
    assert sorted(map(tuple, out)) == sorted(map(tuple, bf))


def test_ivfpq_on_corpus_smaller_than_cells_and_codes(spark):
    """5 vectors, n_cells=8, kcodes=16: centroids, codebooks and probe
    masks are sized from the rows trained, and the exact re-rank of the
    full probe equals brute force."""
    from delphi_pdf_parser_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )

    e = _tiny_corpus(spark)
    bf = brute_force_topk(e, e, k=5).collect()
    out = ivfpq_topk(e, e, k=5, n_cells=8, n_probe=8, kcodes=16).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, bf))


def test_embedding_entries_answer_an_empty_table(spark, tmp_path):
    """On a 0-row embeddings table the training and query collects find
    no vectors; each search returns no rows in its declared schema."""
    import pyarrow.parquet as pq

    import __spark_entry__

    src = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
    for name in os.listdir(src):
        if name != "embeddings.parquet":
            os.symlink(os.path.join(src, name), tmp_path / name)
    table = pq.read_table(os.path.join(src, "embeddings.parquet"))
    pq.write_table(table.slice(0, 0), tmp_path / "embeddings.parquet")
    queries = __spark_entry__.queries()
    want = {
        "semdedup": ["vec_id", "cluster_id", "centroid_cos", "is_dup"],
        "ann_ivf_topk": ["query_id", "rank", "vec_id", "cosine"],
        "ann_ivf_full_probe": ["query_id", "rank", "vec_id", "cosine"],
        "ann_pq_rerank_topk": ["query_id", "rank", "vec_id", "cosine"],
        "ann_ivfpq_topk": ["query_id", "rank", "vec_id", "cosine"],
    }
    for name, columns in want.items():
        df = queries[name](spark, str(tmp_path))
        assert df.columns == columns and df.collect() == [], name
