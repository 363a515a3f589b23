"""Web link-graph operators: anchor extraction, host graph, degrees,
PageRank, and an anchor-text index.

A Common-Crawl-style corpus is a graph as much as it is text: crawl
frontier ranking, spam-domain discovery, and quality signals (Gopher's
"URL-level" filters, Ebay/CC link-farm heuristics) all consume the
hyperlink structure. The Delphi reference extracts per-page link
annotations from PDFs (`src/vcl/fz_pdf_page.pas:390`,
``pdf_load_links``); these operators are the web-page analogue over the
``html`` column plus the graph analytics built on top.

Scale shape (100 TB / 10^12 pages):
- ``extract_links`` is one ``mapInPandas`` pass (the same zero-per-row-
  Python contract as extraction) — map-only, no shuffle.
- ``host_graph`` is a map + one hash aggregate on (src_host, dst_host).
- ``pagerank`` materializes the degree-annotated edge table ONCE,
  hash-partitioned by ``src`` (`localCheckpoint`), so every iteration
  shuffles only the node-sized rank table to the edge partitioning,
  never the edge table itself; the new ranks come from one map-side-
  combined ``groupBy(dst)``. The dangling-mass term is a single scalar
  aggregate per iteration (bounded driver value, same contract as the
  k-means iteration stats in similarity.py). Lineage is cut per
  iteration with ``localCheckpoint`` exactly like
  ``clusters.dedup_clusters``.
"""

from __future__ import annotations

from typing import Optional
from urllib.parse import urljoin, urldefrag

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from delphi_pdf_parser_spark.htmlcore import (
    _decode_entities,
    attrs_of,
    inner_text,
    pair_elements,
    scan_bytes,
    spaced,
)
from delphi_pdf_parser_spark.operators.urls import host_of, registered_domain

from .parallelize import ensure_min_parallelism, map_rows, page_rows

LINKS_SCHEMA = StructType(
    [
        StructField("src", StringType()),
        StructField("dst", StringType()),
        StructField("anchor", StringType()),
        StructField("nofollow", BooleanType()),
    ]
)

_SKIP_SCHEMES = ("javascript:", "mailto:", "tel:", "data:", "about:")


def _page_links(url: str, html) -> list:
    """All followable anchors on one page: (src, dst, anchor, nofollow).

    Resolution is RFC 3986 (stdlib urljoin) against the page URL, or
    against the first ``<base href>`` when present, mirroring browser
    behavior. Fragments are stripped (the fragment never reaches the
    server, so two anchors differing only in #frag are the same edge
    target); fragment-only and non-http(s) hrefs are skipped.

    ``html`` is the page bytes or their ``htmlcore.scan_bytes`` scan, which
    skips comments and script/style/template bodies, so commented-out nav
    and script ``<a href>`` literals never become edges. The first
    ``</a>`` after an open closes it, as browsers auto-close nested ``<a>``.
    """
    s, tags = scan_bytes(html)
    base = url
    for t in tags:
        if t[3] == "base" and not t[2] and spaced(t):
            bhref = attrs_of(t).get("href")
            if bhref:
                try:
                    base = urljoin(url, bhref)
                except ValueError:
                    base = url
            break
    rows = []
    for i, j in pair_elements(tags, lambda t: t[3] == "a" and spaced(t)):
        attrs = attrs_of(tags[i])
        href_s = _decode_entities(attrs.get("href") or "").strip()
        if not href_s or href_s.startswith("#"):
            continue
        low = href_s.lower()
        if low.startswith(_SKIP_SCHEMES):
            continue
        try:
            dst = urldefrag(urljoin(base, href_s))[0]
        except ValueError:
            continue
        if not dst.lower().startswith(("http://", "https://")):
            continue
        anchor = inner_text(s, tags, i, j)
        nofollow = "nofollow" in attrs.get("rel", "").lower().split()
        rows.append((url, dst, anchor, nofollow))
    return rows


def extract_links(
    documents: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Out-links of every page: (src, dst, anchor, nofollow).

    One Arrow ``mapInPandas`` pass over (url, html) — column-pruned at
    the scan, map-only behind the fan-out guard (parallelize.py).
    ``html`` may be binary or string.
    """
    df = documents.select(
        F.col(url_col).alias("url"), F.col(html_col).alias("html")
    ).filter(F.col(html_col).isNotNull())
    df = ensure_min_parallelism(df)
    return map_rows(df, page_rows(_page_links), LINKS_SCHEMA)


def host_graph(
    links: DataFrame,
    src: str = "src",
    dst: str = "dst",
    drop_intra: bool = True,
) -> DataFrame:
    """Weighted eTLD+1 domain graph from a URL-level edge list.

    (src_domain, dst_domain, n_links); intra-domain edges (navigation
    boilerplate, by far the bulk of real links) dropped by default.
    Map + one hash aggregate — the canonical crawl-graph reduction.
    """
    e = links.select(
        registered_domain(host_of(F.col(src))).alias("src_domain"),
        registered_domain(host_of(F.col(dst))).alias("dst_domain"),
    ).filter(
        (F.col("src_domain") != "") & (F.col("dst_domain") != "")
    )
    if drop_intra:
        e = e.filter(F.col("src_domain") != F.col("dst_domain"))
    return e.groupBy("src_domain", "dst_domain").agg(
        F.count("*").alias("n_links")
    )


def degree_table(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node (node, out_deg, in_deg), zero-filled — the first thing
    any crawl-frontier or spam heuristic reads. Two hash aggregates +
    one outer join on the node key."""
    out = (
        edges.groupBy(F.col(src).alias("node"))
        .agg(F.count("*").alias("out_deg"))
    )
    inn = (
        edges.groupBy(F.col(dst).alias("node"))
        .agg(F.count("*").alias("in_deg"))
    )
    return out.join(inn, "node", "full_outer").select(
        "node",
        F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
        F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
    )


def _encode_node_ids(e: DataFrame, nodes: DataFrame):
    """Dictionary-encode string node keys to dense int64 ids
    (VERDICT r6 #4): one monotonically_increasing_id over the node
    table + two equi-joins to rewrite the edge list. The iterated
    rank/score tables then exchange 8-byte ids per iteration instead
    of full URL strings — at 10^10 nodes that's the difference between
    a ~100 GB and a multi-TB per-iteration shuffle. Returns
    (encoded_edges, encoded_nodes, mapping) where mapping is
    (node: string, nid: long), checkpointed so ids stay stable across
    every reuse in the loop.
    """
    mapping = (
        nodes.select("node")
        .withColumn("nid", F.monotonically_increasing_id())
        .localCheckpoint()
    )
    e_enc = (
        e.join(
            mapping.select(
                F.col("node").alias("src"), F.col("nid").alias("_sid")
            ),
            "src",
        )
        .join(
            mapping.select(
                F.col("node").alias("dst"), F.col("nid").alias("_did")
            ),
            "dst",
        )
        .select(
            F.col("_sid").alias("src"), F.col("_did").alias("dst")
        )
    )
    return e_enc, mapping.select(F.col("nid").alias("node")), mapping


def _decode_node_ids(scores: DataFrame, mapping: DataFrame) -> DataFrame:
    """Swap the int64 ``node`` column back to the original string key
    (one node-sized equi-join, after the loop)."""
    others = [c for c in scores.columns if c != "node"]
    return (
        scores.withColumnRenamed("node", "nid")
        .join(mapping, "nid")
        .select("node", *others)
    )


def _graph_tables(edges: DataFrame, src: str, dst: str, encode_ids: bool):
    """(edges, nodes, mapping) for the rank loops: the (src, dst) edge
    list with string keys and its distinct node set, dictionary-encoded
    to int64 ids when ``encode_ids`` (mapping is None otherwise)."""
    e = edges.select(
        F.col(src).cast("string").alias("src"),
        F.col(dst).cast("string").alias("dst"),
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if encode_ids:
        return _encode_node_ids(e, nodes)
    return e, nodes, None


def _shuffle_partitions(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))


def _weighted_edges(e: DataFrame):
    """(outdeg, edges_w): per-source out-degrees and the degree-annotated
    edge table, hash-partitioned by ``src`` and checkpointed once, so the
    rank loop shuffles only the node-sized rank table."""
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    edges_w = (
        e.join(outdeg, "src")
        .repartition(_shuffle_partitions(e), "src")
        .localCheckpoint()
    )
    return outdeg, edges_w


def _converged(cur: DataFrame, prev: DataFrame, col: str, tol) -> bool:
    """The ``tol`` early stop: True when ``tol`` is set and the L1 delta
    of ``col`` between two score tables is below it (one node-sized join
    and one scalar action)."""
    if tol is None:
        return False
    delta = (
        cur.join(prev.select("node", F.col(col).alias("_prev")), "node")
        .agg(F.sum(F.abs(F.col(col) - F.col("_prev"))).alias("d"))
        .first()["d"]
    )
    return delta is not None and delta < tol


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    encode_ids: bool = False,
    tol: Optional[float] = None,
) -> DataFrame:
    """Power-iteration PageRank with dangling-mass redistribution.

    rank_{t+1}(v) = (1-d)/N + d * (sum_{u->v} rank_t(u)/outdeg(u)
                                   + dangling_t/N)

    Multi-edges contribute multiplicity times (outdeg counts edges, not
    neighbors), matching the multigraph convention; callers wanting
    simple-graph semantics ``distinct()`` first.

    Plan shape: the degree-annotated edge table is repartitioned by
    ``src`` into ``spark.sql.shuffle.partitions`` parts and checkpointed
    ONCE — per iteration only the node-sized
    rank table moves (one shuffle onto the edge partitioning + one
    map-side-combined groupBy(dst)). N and the per-iteration dangling
    mass are single-scalar aggregates (bounded driver values); rank
    lineage is cut per iteration with ``localCheckpoint``, the same
    pattern as ``clusters.dedup_clusters``.

    ``encode_ids=True`` dictionary-encodes node keys to int64 before
    the loop and decodes after (one join each way), keeping the
    per-iteration node-table exchange 8 bytes wide instead of URL-
    string wide. ``tol`` adds convergence early-stop: iterate until
    the L1 rank delta drops below ``tol`` or ``iterations`` is hit —
    the delta check is a node-sized join + one scalar action per
    iteration (loop control needs the driver), so production runs
    trade that sync for not paying fixed iterations past convergence.
    """
    e, nodes, mapping = _graph_tables(edges, src, dst, encode_ids)
    outdeg, edges_w = _weighted_edges(e)
    nodes = nodes.localCheckpoint()
    n = nodes.count()  # one scalar action; the only full-graph count
    if n == 0:
        empty = nodes.withColumn("rank", F.lit(0.0))
        return (
            _decode_node_ids(empty, mapping)
            if mapping is not None
            else empty
        )
    # the dangling-node SET is static — materialize it once instead of
    # re-deriving the anti-join from the raw edge table every iteration
    dangling_nodes = nodes.join(
        outdeg, nodes.node == outdeg.src, "left_anti"
    ).localCheckpoint()

    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(iterations):
        prev = ranks
        # mass parked on dangling nodes this step: a broadcast scalar
        # crossJoin (one-row aggregate), NOT a collect() — the loop
        # issues one job per iteration (the checkpoint) instead of two,
        # and the driver never synchronizes on the value
        dm = (
            ranks.join(dangling_nodes, "node")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        contribs = (
            edges_w.join(ranks, edges_w.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("outdeg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        # association mirrors the SQL oracle: (1-d)/n + d*dm/n, then
        # + d*contrib
        base = (
            F.lit((1.0 - damping) / n)
            + F.lit(damping) * F.col("dm") / F.lit(float(n))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dm))
            .select(
                "node",
                (
                    base
                    + F.lit(damping)
                    * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
        if _converged(ranks, prev, "rank", tol):
            break
    if mapping is not None:
        ranks = _decode_node_ids(ranks, mapping)
    return ranks


def weakly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Weakly-connected components of a link graph — mirror-cluster /
    spam-farm / isolated-subweb discovery. (node, component,
    is_canonical) where component is the minimum reachable node key.

    Thin adapter over :func:`clusters.connected_components` (the dedup
    cluster resolver): same iterative min-label propagation, one
    edge⋈label shuffle + min-aggregate per round, lineage cut per
    round, loud RuntimeError instead of a silently-wrong result when
    the diameter exceeds ``max_iter``. Works for numeric doc ids and
    string host keys alike (min is lexicographic for strings).
    """
    from delphi_pdf_parser_spark.operators.clusters import (
        connected_components,
    )

    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    nodes = (
        e.select(F.col("a").alias("doc_id"))
        .union(e.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    cc = connected_components(nodes, e, max_iter=max_iter)
    return cc.select(
        F.col("doc_id").alias("node"),
        F.col("cluster_id").alias("component"),
        "is_canonical",
    )


def hits(
    edges: DataFrame,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
    encode_ids: bool = False,
    tol: Optional[float] = None,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) by mutual power
    iteration, L2-normalized each half-step:

        auth_{t}(v) = sum_{u->v} hub_{t-1}(u)   (then / ||auth||_2)
        hub_{t}(u)  = sum_{u->v} auth_{t}(v)    (then / ||hub||_2)

    Plan shape mirrors :func:`pagerank`: the edge table is partitioned
    by key and checkpointed once per orientation; each half-step joins
    the node-sized score table to the edges and reduces with one
    map-side-combined groupBy. The L2 norm is a single scalar aggregate
    per half-step (bounded driver value). Returns (node, hub, auth),
    zero for nodes on only one side of the edge relation.

    ``encode_ids``/``tol`` behave as in :func:`pagerank` (int64 id
    dictionary before the loop; early-stop on the L1 hub delta, one
    scalar action per iteration).
    """
    if iterations < 1:
        raise ValueError("hits: iterations must be >= 1")
    e, nodes, mapping = _graph_tables(edges, src, dst, encode_ids)
    nodes = nodes.localCheckpoint()
    n = nodes.count()
    if n == 0:
        empty = nodes.select(
            "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("auth")
        )
        return (
            _decode_node_ids(empty, mapping)
            if mapping is not None
            else empty
        )
    partitions = _shuffle_partitions(e)
    # one copy per join orientation, each partitioned on ITS join key so
    # the per-iteration shuffles move only the node-sized score tables
    e_by_src = e.repartition(partitions, "src").localCheckpoint()
    e_by_dst = e.repartition(partitions, "dst").localCheckpoint()

    import math

    hub = nodes.select("node", F.lit(1.0 / math.sqrt(n)).alias("hub"))
    auth = None

    def _normalized(raw, out_col):
        # L2 norm as a broadcast one-row scalar (no per-half-step
        # collect); zero norm divides by 1, mirroring the SQL oracle's
        # CASE. One job per half-step: the checkpoint.
        nm = raw.agg(
            F.sqrt(
                F.coalesce(F.sum(F.col("s") * F.col("s")), F.lit(0.0))
            ).alias("nm")
        )
        safe = F.when(F.col("nm") == 0.0, F.lit(1.0)).otherwise(
            F.col("nm")
        )
        return (
            nodes.join(raw, "node", "left")
            .crossJoin(F.broadcast(nm))
            .select(
                "node",
                (F.coalesce(F.col("s"), F.lit(0.0)) / safe).alias(
                    out_col
                ),
            )
            .localCheckpoint()
        )

    for _ in range(iterations):
        prev_hub = hub
        raw_auth = (
            e_by_src.join(hub, e_by_src.src == hub.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("s"))
        )
        auth = _normalized(raw_auth, "auth")
        raw_hub = (
            e_by_dst.join(auth, e_by_dst.dst == auth.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("s"))
        )
        hub = _normalized(raw_hub, "hub")
        if _converged(hub, prev_hub, "hub", tol):
            break
    out = hub.join(auth, "node")
    if mapping is not None:
        out = _decode_node_ids(out, mapping)
    return out


def personalized_pagerank(
    edges: DataFrame,
    teleport: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    encode_ids: bool = False,
    tol: Optional[float] = None,
) -> DataFrame:
    """TrustRank-style personalized PageRank (Gyöngyi et al. 2004):
    the teleport vector is a weighted SEED set instead of uniform, so
    trust flows out from known-good (or known-spam, for Anti-Trust)
    nodes and pages reachable only from spam farms starve:

        rank_{t+1}(v) = ((1-d) + d*dangling_t) * w(v)
                        + d * sum_{u->v} rank_t(u)/outdeg(u)

    ``teleport`` is (node, w); weights are intersected with the graph's
    node set and normalized to sum 1 internally (raises on an all-zero
    intersection). rank_0 = w. Plan shape identical to
    :func:`pagerank` — the only addition is the node-sized weight
    table, which rides the same partitioning as the ranks.
    """
    e, nodes, mapping = _graph_tables(edges, src, dst, encode_ids)
    outdeg, edges_w = _weighted_edges(e)
    # sum duplicate teleport rows up front — a left join against a
    # multi-row seed entry would otherwise multiply the node row
    seed_w = (
        teleport.select(
            F.col("node").cast("string").alias("node"),
            F.col("w").cast("double").alias("w"),
        )
        .groupBy("node")
        .agg(F.sum("w").alias("w0"))
    )
    if mapping is not None:
        # seeds ride the same id dictionary (off-graph seeds drop, as
        # the left join against the node table always made them)
        seed_w = seed_w.join(mapping, "node").select(
            F.col("nid").alias("node"), "w0"
        )
    tele_raw = nodes.join(seed_w, "node", "left").select(
        "node", F.coalesce(F.col("w0"), F.lit(0.0)).alias("w0")
    )
    wsum = tele_raw.agg(F.sum("w0")).collect()[0][0] or 0.0
    if wsum <= 0.0:
        raise ValueError(
            "personalized_pagerank: teleport weights have no positive "
            "mass on the graph's node set"
        )
    tele = tele_raw.select(
        "node", (F.col("w0") / F.lit(wsum)).alias("w")
    ).localCheckpoint()
    dangling_nodes = tele.join(
        outdeg, tele.node == outdeg.src, "left_anti"
    ).select("node").localCheckpoint()

    ranks = tele.select("node", F.col("w").alias("rank"))
    for _ in range(iterations):
        prev = ranks
        # broadcast scalar, not collect() — same as pagerank
        dm = (
            ranks.join(dangling_nodes, "node")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        contribs = (
            edges_w.join(ranks, edges_w.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("outdeg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        coef = F.lit(1.0 - damping) + F.lit(damping) * F.col("dm")
        ranks = (
            tele.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dm))
            .select(
                "node",
                (
                    coef * F.col("w")
                    + F.lit(damping)
                    * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
        if _converged(ranks, prev, "rank", tol):
            break
    if mapping is not None:
        ranks = _decode_node_ids(ranks, mapping)
    return ranks


def anchor_topk(
    links: DataFrame, k: int = 3, dst: str = "dst", anchor: str = "anchor"
) -> DataFrame:
    """Top-k anchor texts per link target — the classic anchor-text
    index feature (how the web describes a page). Empty anchors and
    nofollow links excluded when the column exists. One hash aggregate
    + a per-target window (partitioned by dst, never global)."""
    from pyspark.sql import Window

    e = links.filter(F.col(anchor) != "")
    if "nofollow" in links.columns:
        e = e.filter(~F.col("nofollow"))
    counts = e.groupBy(
        F.col(dst).alias("dst"), F.col(anchor).alias("anchor")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("dst").orderBy(
        F.desc("n"), F.asc("anchor")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("dst", "anchor", "n", "rk")
    )


def cocitation_pairs(
    edges: DataFrame,
    min_common: int = 2,
    max_out: int = 64,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Related-pages by co-citation (Small 1973): two targets are
    related when the same sources link to both. (dst_a, dst_b,
    n_common) for pairs co-cited by at least ``min_common`` sources.

    Scale guard: the self-join fan-out is quadratic in a source's
    outdegree, so sources with more than ``max_out`` out-links are
    EXCLUDED (directory/spam hub pages — the standard practice, same
    explicit-cap contract as dedup's ``max_block`` verify stages); the
    cap keeps the exchange at most ``max_out``² rows per source.
    Distinct edges only (duplicate links are one citation).
    """
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d")
    ).distinct()
    outdeg = e.groupBy("s").agg(F.count("*").alias("od"))
    bounded = e.join(
        outdeg.filter(F.col("od") <= max_out).select("s"), "s"
    )
    a = bounded.select("s", F.col("d").alias("dst_a"))
    b = bounded.select("s", F.col("d").alias("dst_b"))
    return (
        a.join(b, "s")
        .filter(F.col("dst_a") < F.col("dst_b"))
        .groupBy("dst_a", "dst_b")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
