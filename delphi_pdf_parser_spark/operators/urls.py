"""URL canonicalization + URL-level dedup.

Crawl pipelines dedup by canonical URL before anything content-based
(the same page is crawled as http/https, with/without fragments, with
tracking params, mixed-case hosts). Canonicalization here is a defined,
engine-portable subset — every rule is expressible in both Spark SQL
functions and the DuckDB oracle:

1. strip the #fragment
2. lowercase scheme and host (path stays case-sensitive)
3. drop default ports (http:80, https:443)
4. drop tracking query params (utm_*, gclid, fbclid), sort the rest
5. empty path -> "/"

All JVM-side expressions (regexp + array higher-order fns), map-only —
no shuffle; the dedup itself is one hash aggregate on the canonical key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .parallelize import ensure_min_parallelism

_TRACKING_RE = "^(utm_[a-z]+|gclid|fbclid)="


def _strip_scheme(u: Column) -> Column:
    return F.regexp_replace(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://", "")


def _drop_userinfo(auth: Column) -> Column:
    """RFC 3986 userinfo must not defeat host-based logic — the classic
    'https://good.com@spam-mill.com/' blocklist-evasion trick."""
    return F.regexp_replace(auth, r"^.*@", "")


def host_of(url: Column) -> Column:
    """Lowercase host of a URL (scheme optional, userinfo and port
    stripped) — the one host extraction shared by canonicalize_url and
    domain_stats so their edge-case behavior cannot drift."""
    rest = _strip_scheme(F.trim(url))
    auth = _drop_userinfo(F.regexp_extract(rest, r"^([^/?#]*)", 1))
    return F.lower(F.regexp_replace(auth, r":\d+$", ""))


def canonicalize_url(url: Column) -> Column:
    u = F.regexp_replace(F.trim(url), "#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    rest = _strip_scheme(u)
    rawauth = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    hostport = _drop_userinfo(rawauth)
    # pathq offsets from the RAW authority (userinfo included) so the
    # path still starts at the right byte after the strip
    pathq = rest.substr(F.length(rawauth) + 1, F.lit(1 << 30))
    host = F.lower(F.regexp_replace(hostport, r":\d+$", ""))
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.when(
        pathq.contains("?"), F.regexp_replace(pathq, r"^[^?]*\?", "")
    ).otherwise(F.lit(""))
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(_TRACKING_RE),
        )
    )
    qs = F.array_join(params, "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )


# two-label public suffixes for eTLD+1 extraction — a deterministic
# stand-in subset of the Mozilla Public Suffix List (the full list is
# ~10k entries; production swaps it in — the extraction rule is what
# the operator implements, and it only needs suffix membership)
PUBLIC_SUFFIX_2 = (
    "co.uk", "ac.uk", "gov.uk", "org.uk", "com.au", "net.au",
    "co.jp", "ne.jp", "com.br", "co.in", "com.cn", "com.mx",
)


def registered_domain(host: Column) -> Column:
    """eTLD+1 of a lowercase host: the last 3 labels when the final 2
    form a listed public suffix (example.co.uk), else the last 2
    (example.com). Hosts with one label pass through unchanged."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(".", F.slice(parts, n - 1, 2))
    last3 = F.concat_ws(".", F.slice(parts, n - 2, 3))
    return (
        F.when((n >= 3) & last2.isin(*PUBLIC_SUFFIX_2), last3)
        .when(n >= 2, last2)
        .otherwise(host)
    )


def domain_stats(
    df: DataFrame, blocklist: tuple = (), url_col: str = "url"
) -> DataFrame:
    """Per-registered-domain crawl accounting + blocklist verdict (the
    C4/RefinedWeb URL-filter stage: drop pages whose eTLD+1 is on a
    bad-domain list — UT1-style): emits (registered_domain, n_urls,
    blocked). Scale shape (100 TB): host/eTLD+1 extraction is map-only
    string expressions; ONE hash-agg on the registered domain; the
    blocklist is an in-expression literal set (broadcast-join a table
    instead when it outgrows a literal). Unguarded: the per-row
    host/eTLD+1 extraction is cheap (parallelize.py)."""
    reg = registered_domain(host_of(F.col(url_col)))
    blocked = (
        reg.isin(*blocklist) if blocklist else F.lit(False)
    )
    return (
        df.select(reg.alias("registered_domain"), blocked.alias("b"))
        .groupBy("registered_domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.max(F.col("b")).cast("int").alias("blocked"),
        )
        .orderBy("registered_domain")
    )


def host_quality_stats(
    documents: DataFrame,
    url_col: str = "url",
    min_docs: int = 2,
    min_avg_quality: float = 0.5,
) -> DataFrame:
    """FineWeb/RefinedWeb-style DOMAIN-level curation: per-registered-
    domain document count + mean quality score -> keep verdict, so thin
    or low-quality domains drop as a GROUP (domain reputation catches
    spam farms that per-document filters miss — every page is
    individually plausible, the domain-level average is not).

    Emits (registered_domain, n_docs, avg_quality, keep). To apply,
    semi-join the corpus against keep=true domains on registered_domain
    (or broadcast the kept-domain list when it fits).

    Scale shape (100 TB): the quality blend is map-side column
    expressions on the same row (quality_exprs — no self-join), eTLD+1
    extraction is map-only strings, then ONE hash-agg on the registered
    domain; nothing corpus-wide shuffles except that agg.
    """
    from delphi_pdf_parser_spark.operators.textstats import quality_exprs

    documents = ensure_min_parallelism(documents)
    quality, _ = quality_exprs()
    reg = registered_domain(host_of(F.col(url_col)))
    agg = (
        documents.select(
            reg.alias("registered_domain"), quality.alias("q")
        )
        .groupBy("registered_domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("q"), 4).alias("avg_quality"),
        )
    )
    return agg.select(
        "registered_domain",
        "n_docs",
        "avg_quality",
        (
            (F.col("n_docs") >= min_docs)
            & (F.col("avg_quality") >= min_avg_quality)
        ).alias("keep"),
    )


def url_dedup(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Keep one row per canonical URL (min original url as the winner —
    deterministic, engine-portable tiebreak).

    r8: the canonicalization is STAGED through layered projections
    instead of the single inline ``canonicalize_url`` expression — the
    inline form re-evaluates shared regexp subchains (the stripped-url,
    authority and path-query extractions feed scheme, host, port, path
    AND query), and Catalyst's subexpression elimination does not
    recover them all (measured ~0.5 ms/row). Each intermediate is a
    named column consumed more than once, which CollapseProject keeps
    materialized, so every regexp runs once per row. Same expressions,
    same composition — canonical urls are bit-identical
    (``canonicalize_url`` remains the pinned one-expression spec;
    tests/test_urls.py compares the two). With the regexps de-duplicated
    the map side is cheap, so it is unguarded (parallelize.py)."""
    u = F.regexp_replace(F.trim(F.col(url_col)), "#.*$", "")
    staged = (
        df.withColumn("_u", u)
        .withColumn(
            "_scheme",
            F.lower(
                F.regexp_extract(
                    F.col("_u"), r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1
                )
            ),
        )
        .withColumn("_rest", _strip_scheme(F.col("_u")))
        .withColumn(
            "_rawauth", F.regexp_extract(F.col("_rest"), r"^([^/?#]*)", 1)
        )
        .withColumn("_hostport", _drop_userinfo(F.col("_rawauth")))
        .withColumn(
            "_pathq",
            F.col("_rest").substr(
                F.length(F.col("_rawauth")) + 1, F.lit(1 << 30)
            ),
        )
        .withColumn(
            "_host",
            F.lower(F.regexp_replace(F.col("_hostport"), r":\d+$", "")),
        )
        .withColumn(
            "_port", F.regexp_extract(F.col("_hostport"), r":(\d+)$", 1)
        )
        .withColumn(
            "_path",
            F.when(
                F.regexp_extract(F.col("_pathq"), r"^([^?]*)", 1) == "",
                F.lit("/"),
            ).otherwise(
                F.regexp_extract(F.col("_pathq"), r"^([^?]*)", 1)
            ),
        )
        .withColumn(
            "_query",
            F.when(
                F.col("_pathq").contains("?"),
                F.regexp_replace(F.col("_pathq"), r"^[^?]*\?", ""),
            ).otherwise(F.lit("")),
        )
        .withColumn(
            "_qs",
            F.array_join(
                F.array_sort(
                    F.filter(
                        F.split(F.col("_query"), "&"),
                        lambda p: (p != "") & ~p.rlike(_TRACKING_RE),
                    )
                ),
                "&",
            ),
        )
    )
    keep_port = (F.col("_port") != "") & ~(
        ((F.col("_scheme") == "http") & (F.col("_port") == "80"))
        | ((F.col("_scheme") == "https") & (F.col("_port") == "443"))
    )
    with_canon = staged.withColumn(
        "canon_url",
        F.concat(
            F.col("_scheme"),
            F.lit("://"),
            F.col("_host"),
            F.when(
                keep_port, F.concat(F.lit(":"), F.col("_port"))
            ).otherwise(F.lit("")),
            F.col("_path"),
            F.when(
                F.col("_qs") != "", F.concat(F.lit("?"), F.col("_qs"))
            ).otherwise(F.lit("")),
        ),
    )
    return (
        with_canon.groupBy("canon_url")
        .agg(
            F.min(url_col).alias("url"),
            F.count("*").alias("n_variants"),
        )
    )


def recrawl_diff(
    snapshots: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> DataFrame:
    """CDX-style recrawl analysis: for every (url, crawl-timestamp)
    snapshot, whether the content CHANGED since the previous crawl of
    the same url — the signal behind crawl-scheduling (unchanged pages
    get recrawled less) and snapshot-dedup (only changed snapshots are
    kept).

    Per-url md5 content fingerprints compared against the previous
    snapshot via one lag window PARTITIONED BY url (never global);
    first sightings count as changed. Returns (url, ts, fingerprint,
    crawl_seq, changed, keep) where keep marks the rows a
    changed-only store retains.
    """
    from pyspark.sql import Window

    fp = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    base = snapshots.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("ts"),
        fp.alias("fingerprint"),
    )
    prev = F.lag("fingerprint").over(
        Window.partitionBy("url").orderBy("ts")
    )
    out = base.select(
        "url",
        "ts",
        "fingerprint",
        F.row_number()
        .over(Window.partitionBy("url").orderBy("ts"))
        .alias("crawl_seq"),
        (
            prev.isNull() | (F.col("fingerprint") != prev)
        ).alias("changed"),
    )
    return out.withColumn("keep", F.col("changed"))


def surt_key(url: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key — the
    canonical sort/partition key of web-archive indexes (CDX):
    ``https://www.Example.co.uk/A/b?Q=1`` ->
    ``uk,co,example,www)/a/b?q=1``. Host labels reverse so one
    registrable domain's pages sort contiguously (range scans /
    partition pruning by domain at 100-TB index scale). Scheme, port
    and userinfo drop; the whole key lowercases; empty path -> ``/``.
    All JVM string/array expressions, map-only."""
    host = host_of(url)
    rest = _strip_scheme(F.trim(url))
    rawauth = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    pathq = F.regexp_replace(
        rest.substr(F.length(rawauth) + 1, F.lit(1 << 30)), "#.*$", ""
    )
    pathq = F.when(pathq == "", F.lit("/")).otherwise(pathq)
    rev = F.reverse(F.split(host, r"\."))
    return F.concat(
        F.array_join(rev, ","), F.lit(")"), F.lower(pathq)
    )
