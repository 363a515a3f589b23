"""Text-analysis operators for training-data pipelines.

All implemented with JVM-side built-ins (no Python in the hot path):
tokenization via split/regexp, ratios via length arithmetic, language ID
via marker-word counts with higher-order array functions. Every operator
has an exact ANSI-SQL equivalent (see __spark_entry__.oracle_sql) so the
driver's DuckDB oracle verifies values, not just shapes.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .parallelize import ensure_min_parallelism

# deterministic marker-word language classifier (the n-gram heuristic of
# the task brief reduced to marker unigrams so the oracle SQL is exact)
LANG_MARKERS = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "et", "les"),
    "es": ("el", "los", "y", "las"),
}


def _tokens(col):
    return F.split(F.trim(col), r"\s+")


def words(col):
    """Lowercased whitespace tokens, ``split(trim(lower(col)), '\\s+')``."""
    return _tokens(F.lower(col))


def normalized(col):
    """``lower(trim(col))`` with each whitespace run as one space."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


# BPE-ish pre-tokenization (GPT-2-style word/number/punct split, ASCII
# simplification so Java regex and the DuckDB oracle agree byte-for-byte)
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def token_count(documents: DataFrame) -> DataFrame:
    toks = _tokens(F.col("text"))
    # F.lit, not F.expr: a SQL string literal would eat the \s escape
    bpe = F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), F.lit(0))
    return documents.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars"),
    )


def quality_exprs():
    """(quality, diversity) score COLUMNS over a ``text`` column — the
    length / lexical-diversity / alpha-ratio blend, rounded 4dp for
    stable cross-engine comparison. Exposed as expressions so composed
    operators (host_quality_stats) score map-side on the same row with
    no self-join. Null text counts as empty; a zero-length document
    takes alpha-ratio 0 instead of dividing by zero (ANSI mode would
    otherwise kill the whole job on one blank row)."""
    txt = F.coalesce(F.col("text"), F.lit(""))
    toks = _tokens(txt)
    n_tok = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    alpha = F.length(F.regexp_replace(txt, r"[^a-zA-Z]", ""))
    total = F.length(txt)
    alpha_frac = F.when(total > 0, alpha / total).otherwise(F.lit(0.0))
    score = (
        F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.3
        + (n_distinct / n_tok) * 0.3
        + alpha_frac * 0.4
    )
    return F.round(score, 4), F.round(n_distinct / n_tok, 4)


def quality_score(documents: DataFrame) -> DataFrame:
    """-> (doc_id, quality, diversity); see :func:`quality_exprs`."""
    quality, diversity = quality_exprs()
    return documents.select(
        "doc_id",
        quality.alias("quality"),
        diversity.alias("diversity"),
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Marker-word language guess; deterministic formula, exact oracle."""
    toks = _tokens(F.lower(F.col("text")))

    def _marker_pred(markers):
        # single-parameter closure: a default-arg lambda would be seen by
        # F.filter as the (element, index) two-arg form
        return lambda t: t.isin(*markers)

    scores = {
        lang: F.size(F.filter(toks, _marker_pred(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    # greatest score wins; ties resolve in fixed key order en>de>fr>es
    pred = F.lit("und")
    best = F.lit(0)
    for lang in ("es", "fr", "de", "en"):  # reverse priority, later wins ties
        s = scores[lang]
        pred = F.when(s >= best, F.lit(lang)).otherwise(pred)
        best = F.greatest(best, s)
    out = documents.select(
        "doc_id",
        "lang",
        *[scores[k].alias(f"score_{k}") for k in LANG_MARKERS],
        pred.alias("lang_pred"),
    )
    return out


def fingerprint(documents: DataFrame) -> DataFrame:
    """Document fingerprint: md5 of case/whitespace-normalized text."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return documents.select(
        "doc_id", F.md5(norm).alias("fingerprint"), F.length(norm).alias("norm_len")
    )


def compression_ratio(documents: DataFrame) -> DataFrame:
    """zlib deflate ratio per document (the Gopher-style repetitiveness /
    boilerplate signal: highly repetitive text compresses far below
    natural prose). Arrow-batched pandas UDF — zlib is the one thing the
    JVM built-ins can't express; rows-only in the oracle gate (DuckDB has
    no deflate)."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    documents = ensure_min_parallelism(documents)

    @pandas_udf("double")
    def _ratio(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            if not t:
                out.append(None)
                continue
            raw = t.encode("utf-8", "replace")
            out.append(round(len(zlib.compress(raw, 6)) / len(raw), 4))
        return pd.Series(out, dtype="float64")

    return documents.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        _ratio(F.col("text")).alias("zlib_ratio"),
    )


def top_ngrams(
    documents: DataFrame, n: int = 2, k: int = 20
) -> DataFrame:
    """Corpus-level n-gram frequency (the classic corpus statistic for
    contamination/boilerplate hunting): explode word n-grams, one
    hash-aggregate count (map-side partial), deterministic top-k by
    (count desc, ngram asc). Shape: explode -> count -> global top-k;
    the only full shuffle is the count's exchange."""
    documents = ensure_min_parallelism(documents)
    toks = words(F.col("text"))
    # n shifted slices zipped together: plain (codegen-able) array
    # expressions — the equivalent F.transform(lambda ...) form runs
    # INTERPRETED per element and measured 70x slower at sf0.1
    parts = [
        F.slice(toks, j + 1, F.greatest(F.size(toks) - n + 1, F.lit(0)))
        for j in range(n)
    ]
    zipped = F.arrays_zip(*parts)
    exploded = documents.select(F.explode(zipped).alias("z")).select(
        F.concat_ws(" ", *[F.col(f"z.{j}") for j in range(n)]).alias("ngram")
    )
    return (
        exploded.groupBy("ngram")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(k)
    )


def normalize_text(documents: DataFrame) -> DataFrame:
    """Canonical text normalization for dedup keys: Unicode NFC, control
    chars stripped, whitespace collapsed, outer whitespace trimmed.
    NFC needs a real Unicode database — an Arrow pandas UDF over
    unicodedata (batch-vectorized transfer; the per-row work is C inside
    CPython). Everything else stays in the same UDF to avoid a second
    Python crossing."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def norm(text: pd.Series) -> pd.Series:
        import re
        import unicodedata

        ws = re.compile(r"\s+")
        ctrl = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")

        def one(t):
            if t is None:
                return None
            t = unicodedata.normalize("NFC", t)
            t = ctrl.sub("", t)
            return ws.sub(" ", t).strip()

        return text.map(one)

    normed = documents.select(
        "doc_id", norm(F.col("text")).alias("norm_text")
    )
    return normed.select(
        "doc_id", "norm_text", F.length("norm_text").alias("n_chars")
    )


def stratified_sample(
    documents: DataFrame, frac_hex: str = "3333", salt: str = "s1"
) -> DataFrame:
    """Deterministic stratified sampling (domain-mixing primitive for
    training-data pipelines): keep a document iff the first 4 hex chars
    of md5(source:salt:doc_id) fall below `frac_hex` (~frac_hex/0xFFFF
    of each source stratum). Pure map-side filter — no shuffle, no RNG
    state, reproducible across runs/engines; md5 is bit-identical in
    Spark and DuckDB so the driver oracle checks the exact row set."""
    key = F.concat_ws(
        ":", F.col("source"), F.lit(salt), F.col("doc_id").cast("string")
    )
    return (
        documents.withColumn("h", F.substring(F.md5(key), 1, 4))
        .filter(F.col("h") < F.lit(frac_hex))
        .select("doc_id", "source")
    )


def temperature_mix(
    documents: DataFrame,
    alpha: float = 0.5,
    target_frac: float = 0.5,
    salt: str = "t1",
) -> DataFrame:
    """Temperature-weighted source resampling (the multilingual /
    domain-mixing primitive of XLM-R, Conneau et al. 2020 §3.1, and the
    static-weights half of DoReMi): source s with c_s documents is
    sampled at a rate proportional to c_s^alpha / c_s, so alpha < 1
    up-samples small sources and flattens the head. The target total is
    `target_frac` of the corpus; rates cap at 1 (no up-replication).

    Selection is the same deterministic md5-threshold device as
    stratified_sample, but with a PER-SOURCE threshold: the rate is
    rounded to 6 decimals, scaled to a 32-bit hex bound, and a document
    keeps iff its first 8 md5 hex chars compare below it — md5 and the
    printf are bit-identical in Spark and DuckDB, so the exact kept
    set oracles. (The rounding also absorbs float-summation order
    differences in sum_s c_s^alpha across engines/partitions.)

    Emits per source: n_docs, rate, n_kept. Scale shape (100 TB): one
    count agg on source, a tiny weights table broadcast back, one
    map-side hash filter, one final agg — two shuffles on compact keys
    total, no RNG state, reproducible across runs and engines."""
    counts = documents.groupBy("source").agg(F.count("*").alias("c"))
    tot = counts.agg(
        F.sum("c").alias("n_total"),
        F.sum(F.pow(F.col("c"), F.lit(alpha))).alias("sum_w"),
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "c",
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(target_frac)
                * F.col("n_total")
                * F.pow(F.col("c"), F.lit(alpha))
                / F.col("sum_w")
                / F.col("c"),
            ),
            6,
        ).alias("rate"),
    )
    # cap at 2^32-1 so rate=1.0 prints "ffffffff" (8 hex chars, keeps
    # everything but the one-in-2^32 max hash) instead of a 9-char
    # string that compares BELOW every hash
    thr = F.format_string(
        "%08x",
        F.least(
            F.floor(F.col("rate") * F.lit(4294967296.0)).cast("long"),
            F.lit(4294967295),
        ),
    )
    key = F.concat_ws(
        ":", F.col("source"), F.lit(salt), F.col("doc_id").cast("string")
    )
    marked = (
        documents.select("doc_id", "source", F.md5(key).alias("h"))
        .join(F.broadcast(rates), "source")
        .select(
            "source",
            "c",
            "rate",
            (F.substring("h", 1, 8) < thr).cast("int").alias("kept"),
        )
    )
    return (
        marked.groupBy("source")
        .agg(
            F.first("c").alias("n_docs"),
            F.first("rate").alias("rate"),
            F.sum("kept").cast("long").alias("n_kept"),
        )
        .orderBy("source")
    )


def unigram_logprob(
    documents: DataFrame, k: float = 0.5, top_v: int = 100_000
) -> DataFrame:
    """Model-based quality scoring stand-in: per-document mean unigram
    log10-probability under the corpus's own add-k-smoothed unigram LM
    (low scores flag gibberish / vocabulary outliers).

    Shape at 100 TB (VERDICT r3 #2): the broadcast LM is CAPPED at the
    `top_v` most frequent tokens (ties broken by token, deterministic);
    every rarer token is scored as UNSEEN under the smoothed model,
    lp_oov = log10(k / (total + k*vsize)). The smoothing denominator
    still uses the FULL corpus totals (two scalars from one map-side
    combined agg), so only O(top_v) rows ever reach the driver/broadcast
    no matter how large the web-scale vocabulary grows. Quality
    semantics are preserved: tail tokens are exactly the ones the score
    exists to penalize, and a rank-top_v token's true lp is already
    within k of the unseen floor. At test/bench scale the vocab is
    below top_v, so the capped model equals the exact one and the
    DuckDB oracle (which mirrors the cap) pins it bit-for-bit.

    Unguarded: the map side is a bare split+explode (parallelize.py)."""
    toks = documents.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count("*").alias("n"))
    totals = vocab.agg(
        F.sum("n").alias("total"), F.count("*").alias("vsize")
    )
    top = vocab.orderBy(F.desc("n"), F.asc("tok")).limit(top_v)
    lm = top.crossJoin(F.broadcast(totals)).select(
        "tok",
        (
            F.log10(
                (F.col("n") + F.lit(k))
                / (F.col("total") + F.lit(k) * F.col("vsize"))
            )
        ).alias("lp"),
    )
    oov_lp = F.log10(
        F.lit(k) / (F.col("total") + F.lit(k) * F.col("vsize"))
    )
    return (
        toks.join(F.broadcast(lm), "tok", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id", F.coalesce(F.col("lp"), oov_lp).alias("lp")
        )
        .groupBy("doc_id")
        .agg(
            F.round(F.avg("lp"), 4).alias("mean_logprob"),
            F.count("*").alias("n_tokens"),
        )
    )


def bigram_logprob(
    documents: DataFrame,
    k: float = 0.5,
    lam: float = 0.7,
    top_v: int = 100_000,
    top_b: int = 1_000_000,
) -> DataFrame:
    """Interpolated bigram LM scoring — the order-2 step toward the
    CCNet-style n-gram-LM perplexity filter (Wenzek et al. 2020 use a
    5-gram KenLM; the smoothing family is the same): per document, the
    mean log10 of p(w_i | w_{i-1}) = lam * c(ab)/c(a) + (1-lam) *
    p_uni(b), where p_uni is the add-k unigram model unigram_logprob
    broadcasts. Low scores flag locally-incoherent text that a unigram
    model cannot see (shuffled words score identically under order 1).

    Caps mirror unigram_logprob's 100-TB story: the broadcast tables
    are the top_v unigrams and top_b bigrams by count (deterministic
    tie-breaks); a capped-out or unseen bigram contributes only its
    interpolated unigram term, an OOV conditioning token zeroes the
    bigram term, and an OOV target takes the unigram unseen floor.
    Under the caps (always true at bench scale) the model is exact and
    the DuckDB oracle pins it.

    Scale shape: bigrams are built ARRAY-side (two slices zipped — no
    self-join on the token stream), counted in one hash-agg each for
    unigrams and bigrams, and scored via three broadcast joins on the
    exploded pair stream; one final groupBy(doc_id). Docs with < 2
    tokens emit no row (no transitions to score)."""
    documents = ensure_min_parallelism(documents)
    t = _tokens(F.col("text"))
    pre = F.slice(t, 1, F.size(t) - 1)
    nxt = F.slice(t, 2, F.size(t) - 1)
    # arrays_zip, not zip_with(lambda): the native zip stays codegen'd
    # where the higher-order form evaluates its lambda interpreted per
    # element (same rows either way — A/B'd at sf1.0: 0.73 s vs 0.82 s
    # per pass, and this subtree runs twice: bigram counts + scoring)
    pairs = (
        documents.filter(F.size(t) >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(pre.alias("a"), nxt.alias("b"))
            ).alias("p"),
        )
        .select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .filter((F.col("a") != "") & (F.col("b") != ""))
    )
    toks = documents.select(
        "doc_id", F.explode(t).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count("*").alias("n"))
    totals = vocab.agg(
        F.sum("n").alias("total"), F.count("*").alias("vsize")
    )
    uni = (
        vocab.orderBy(F.desc("n"), F.asc("tok"))
        .limit(top_v)
        .select("tok", "n")
    )
    big = (
        pairs.groupBy("a", "b")
        .agg(F.count("*").alias("nab"))
        .orderBy(F.desc("nab"), F.asc("a"), F.asc("b"))
        .limit(top_b)
    )
    p_uni = (F.col("nb") + F.lit(k)) / (
        F.col("total") + F.lit(k) * F.col("vsize")
    )
    p_uni_oov = F.lit(k) / (F.col("total") + F.lit(k) * F.col("vsize"))
    bg_term = F.when(
        F.col("nab").isNotNull() & F.col("na").isNotNull(),
        F.col("nab") / F.col("na"),
    ).otherwise(F.lit(0.0))
    p = F.lit(lam) * bg_term + F.lit(1.0 - lam) * F.coalesce(
        p_uni, p_uni_oov
    )
    scored = (
        pairs.join(F.broadcast(big), ["a", "b"], "left")
        .join(
            F.broadcast(uni.select(F.col("tok").alias("a"),
                                   F.col("n").alias("na"))),
            "a",
            "left",
        )
        .join(
            F.broadcast(uni.select(F.col("tok").alias("b"),
                                   F.col("n").alias("nb"))),
            "b",
            "left",
        )
        .crossJoin(F.broadcast(totals))
        .select("doc_id", F.log10(p).alias("lp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.avg("lp"), 4).alias("mean_logprob"),
            F.count("*").alias("n_bigrams"),
        )
        .orderBy("doc_id")
    )


# Rae et al. 2021 §A1.1: "the, be, to, of, and, that, have, with" —
# document must contain at least two of these (full published list).
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(documents: DataFrame) -> DataFrame:
    """Gopher quality-rule filter (Rae et al. 2021, §A1.1 — the
    canonical pretraining-corpus heuristic set): per document, the rule
    inputs and the keep verdict.

    Published thresholds, applied as published: 50 <= word count <=
    100k; 3 <= mean word length <= 10; symbol-to-word ratio <= 0.1 for
    BOTH '#' and '...'; <= 90% of lines start with a bullet; <= 30% of
    lines end with an ellipsis; >= 80% of words contain an alphabetic
    char; >= 2 of the 8 Gopher stop words. The two line-level rules are
    computed over trimmed non-empty lines (documents with no such lines
    trivially pass them). Everything is JVM expressions (higher-order
    filters stay interpreted but linear), and every rule input is
    emitted so downstream curation can re-threshold without
    recomputing."""
    toks = _tokens(F.col("text"))
    n_words = F.size(toks)
    mean_wl = F.length(F.concat_ws("", toks)) / n_words
    n_hash = F.length(F.col("text")) - F.length(
        F.replace(F.col("text"), F.lit("#"), F.lit(""))
    )
    n_ellipsis = (
        F.length(F.col("text"))
        - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))
    ) / 3
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    n_stop = F.size(
        F.array_distinct(
            F.filter(
                _tokens(F.lower(F.col("text"))),
                lambda t: t.isin(*GOPHER_STOPS),
            )
        )
    )
    lines = F.filter(
        F.transform(F.split(F.col("text"), "\n"), F.trim),
        lambda x: x != "",
    )
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(lines, lambda x: F.substring(x, 1, 1).isin("•", "-", "*"))
    )
    ellipsis_lines = F.size(
        F.filter(lines, lambda x: x.endswith("...") | x.endswith("…"))
    )
    # no non-empty lines -> the line rules trivially pass (frac 0)
    bullet_frac = F.when(n_lines > 0, bullet_lines / n_lines).otherwise(0.0)
    ell_line_frac = F.when(n_lines > 0, ellipsis_lines / n_lines).otherwise(
        0.0
    )
    keep = (
        (n_words >= 50)
        & (n_words <= 100_000)
        & (mean_wl >= 3)
        & (mean_wl <= 10)
        & (n_hash / n_words <= 0.1)
        & (n_ellipsis / n_words <= 0.1)
        & (bullet_frac <= 0.9)
        & (ell_line_frac <= 0.3)
        & (alpha_words / n_words >= 0.8)
        & (n_stop >= 2)
    )
    return documents.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(n_hash / n_words, 4).alias("hash_ratio"),
        F.round(n_ellipsis / n_words, 4).alias("ellipsis_ratio"),
        F.round(bullet_frac, 4).alias("bullet_line_frac"),
        F.round(ell_line_frac, 4).alias("ellipsis_line_frac"),
        F.round(alpha_words / n_words, 4).alias("alpha_word_frac"),
        n_stop.alias("n_stop_words"),
        keep.cast("int").alias("keep"),
    )


def gopher_repetition(documents: DataFrame) -> DataFrame:
    """Gopher repetition filters (Rae et al. 2021 §A1.1, Table A1 — the
    REPETITION half; gopher_quality carries the quality half): per
    document, duplicate-line fraction <= 0.30, duplicate-line CHARACTER
    fraction <= 0.20, and the fraction of characters covered by the
    single most frequent {2,3,4}-gram <= 0.20 / 0.18 / 0.16. Lines are
    trimmed non-empty (same convention as gopher_quality); grams are
    over lowercased whitespace tokens with deterministic mode tie-break
    (count desc, gram asc); char coverage = count * length(gram) /
    normalized text length (occurrence-sum semantics). The duplicated-
    {5..10}-gram char-coverage family needs overlap-marking semantics
    with no exact SQL mirror and is deliberately out of scope.

    Scale shape: line stats are map-only array expressions; the
    per-document n-gram mode is explode -> (doc_id, n, gram) hash-count
    (map-side combined) -> per-(doc, n) top-1 window -> conditional-agg
    pivot — the same one-exchange shape as corpus top_ngrams, keyed per
    document (the window partitions on (doc_id, n): millions of small
    groups, never a global sort)."""
    from pyspark.sql import Window

    toks = words(F.col("text"))
    lines = F.filter(
        F.transform(F.split(F.col("text"), "\n"), F.trim),
        lambda x: x != "",
    )
    n_lines = F.size(lines)
    dlines = F.array_distinct(lines)
    line_chars = F.aggregate(lines, F.lit(0), lambda a, x: a + F.length(x))
    dline_chars = F.aggregate(dlines, F.lit(0), lambda a, x: a + F.length(x))
    dup_line_frac = F.when(
        n_lines > 0, (n_lines - F.size(dlines)) / n_lines
    ).otherwise(0.0)
    dup_char_frac = F.when(
        line_chars > 0, (line_chars - dline_chars) / line_chars
    ).otherwise(0.0)
    base = documents.select(
        "doc_id",
        F.round(dup_line_frac, 4).alias("dup_line_frac"),
        F.round(dup_char_frac, 4).alias("dup_line_char_frac"),
        F.length(F.concat_ws(" ", toks)).alias("_chars"),
        toks.alias("_toks"),
    )
    views = []
    for n in (2, 3, 4):
        parts = [
            F.slice(
                F.col("_toks"),
                j + 1,
                F.greatest(F.size("_toks") - n + 1, F.lit(0)),
            )
            for j in range(n)
        ]
        views.append(
            base.select(
                "doc_id",
                "_chars",
                F.lit(n).alias("n"),
                F.explode(F.arrays_zip(*parts)).alias("z"),
            ).select(
                "doc_id",
                "_chars",
                "n",
                F.concat_ws(
                    " ", *[F.col(f"z.{j}") for j in range(n)]
                ).alias("gram"),
            )
        )
    grams = views[0].unionByName(views[1]).unionByName(views[2])
    counted = grams.groupBy("doc_id", "n", "gram", "_chars").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("doc_id", "n").orderBy(
        F.desc("cnt"), F.asc("gram")
    )
    top = (
        counted.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select(
            "doc_id",
            "n",
            F.round(
                F.col("cnt") * F.length("gram") / F.col("_chars"), 4
            ).alias("frac"),
        )
    )
    pivoted = top.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("n") == n, F.col("frac"))), F.lit(0.0)
            ).alias(f"top{n}gram_char_frac")
            for n in (2, 3, 4)
        ]
    )
    joined = base.select(
        "doc_id", "dup_line_frac", "dup_line_char_frac"
    ).join(pivoted, "doc_id", "left")
    t2 = F.coalesce("top2gram_char_frac", F.lit(0.0))
    t3 = F.coalesce("top3gram_char_frac", F.lit(0.0))
    t4 = F.coalesce("top4gram_char_frac", F.lit(0.0))
    keep = (
        (F.col("dup_line_frac") <= 0.30)
        & (F.col("dup_line_char_frac") <= 0.20)
        & (t2 <= 0.20)
        & (t3 <= 0.18)
        & (t4 <= 0.16)
    )
    return joined.select(
        "doc_id",
        "dup_line_frac",
        "dup_line_char_frac",
        t2.alias("top2gram_char_frac"),
        t3.alias("top3gram_char_frac"),
        t4.alias("top4gram_char_frac"),
        keep.cast("int").alias("keep"),
    )


# deterministic stand-in for the 'List of Dirty, Naughty, Obscene or
# Otherwise Bad Words' C4 uses; a production run swaps in the full
# published list — the operator only cares that matching is word-exact
C4_BADWORDS = ("badword", "obscenity", "slur")


def c4_quality_rules(
    documents: DataFrame, badwords: tuple = C4_BADWORDS
) -> DataFrame:
    """C4 cleaning heuristics (Raffel et al. 2020 §2.2, the corpus
    behind T5 — with Gopher the second canonical web-text filter set).

    Line rules (a line survives iff ALL hold, over trimmed non-empty
    lines): ends in a terminal punctuation mark (. ! ? closing quote);
    contains >= 3 whitespace words; does not contain 'javascript'
    (case-insensitive — the paper drops the JS-warning boilerplate
    lines). Page rules (the keep verdict): >= 5 sentences in the
    RETAINED text (sentence proxy: terminal-punctuation marks, the
    splitter-free equivalent of the paper's sentence count), no
    'lorem ipsum', no curly brace '{', and no word from `badwords`
    (word-exact over [^a-z0-9]+-split lowercase tokens; the published
    list also has phrases — single words only here).

    Emits every rule input plus kept_text_md5 (md5 of the surviving
    lines newline-joined) so the whole line-rewrite pins bit-for-bit
    against the SQL oracle.

    Scale shape (100 TB): pure per-row JVM expressions, map-only — no
    shuffle, no UDFs; the trailing orderBy is presentation-only.
    `c4_base` is the sortless projection form — being stateless, it
    applies unchanged to a STREAMING DataFrame (parity pinned in
    tests/test_streaming.py)."""
    return c4_base(documents, badwords).orderBy("doc_id")


def c4_base(
    documents: DataFrame, badwords: tuple = C4_BADWORDS
) -> DataFrame:
    """The C4 projection without the presentation sort — works on both
    batch and streaming DataFrames (see c4_quality_rules)."""
    raw = F.split(F.col("text"), "\n")
    lines = F.filter(F.transform(raw, F.trim), lambda x: x != "")
    kept = F.filter(
        lines,
        lambda x: x.rlike('[.!?"]$')
        & (F.size(F.split(x, r"\s+")) >= 3)
        & ~F.lower(x).contains("javascript"),
    )
    kept_text = F.array_join(kept, "\n")
    n_sentences = F.length(
        F.regexp_replace(kept_text, r"[^.!?]", "")
    ).cast("long")
    low = F.lower(F.col("text"))
    has_lorem = low.contains("lorem ipsum")
    has_brace = F.col("text").contains("{")
    words = F.split(low, "[^a-z0-9]+")
    has_bad = F.size(F.filter(words, lambda w: w.isin(*badwords))) > 0
    keep = (n_sentences >= 5) & ~has_lorem & ~has_brace & ~has_bad
    return documents.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        n_sentences.alias("n_sentences"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        has_bad.alias("has_badword"),
        F.md5(kept_text).alias("kept_text_md5"),
        keep.cast("int").alias("keep"),
    )


def boilerplate_lines(
    documents: DataFrame, min_frac: float = 0.5
) -> DataFrame:
    """Per-source boilerplate-template detection (the cross-document
    complement of paragraph_dedup, CCNet §3's per-shard dedup
    rationale: nav bars / footers repeat across a site's pages): a
    trimmed non-empty line occurring in at least `min_frac` of a
    source's documents is boilerplate. Emits per source: n_docs,
    n_distinct_lines, n_boilerplate_lines, and the md5 of the most
    widespread line (ties: lexicographic min md5 — deterministic in
    both engines).

    Scale shape (100 TB): lines explode map-only and dedupe per doc
    BEFORE the corpus agg (array_distinct in-row); the (source, line)
    doc-frequency is ONE hash-agg on a compact key; the per-source
    rollup aggregates counts and takes the max-by-struct line — no
    windows, no global sorts."""
    lines = F.array_distinct(
        F.filter(
            F.transform(
                F.split(F.coalesce(F.col("text"), F.lit("")), "\n"),
                F.trim,
            ),
            lambda x: x != "",
        )
    )
    per_doc = documents.select(
        "doc_id", "source", F.explode(lines).alias("line")
    )
    ndocs = documents.groupBy("source").agg(
        F.count("*").alias("n_docs")
    )
    dfreq = per_doc.groupBy("source", "line").agg(
        F.count("*").alias("df")
    )
    j = dfreq.join(ndocs, "source")
    boiler = F.col("df") >= F.col("n_docs") * F.lit(min_frac)
    agg = j.groupBy("source").agg(
        F.first("n_docs").alias("n_docs"),
        F.count("*").alias("n_distinct_lines"),
        F.sum(boiler.cast("int")).cast("long").alias(
            "n_boilerplate_lines"
        ),
        F.max("df").alias("top_df"),
    )
    topline = (
        j.join(agg.select("source", "top_df"), "source")
        .filter(F.col("df") == F.col("top_df"))
        .groupBy("source")
        .agg(F.min(F.md5("line")).alias("top_line_md5"))
    )
    return agg.join(topline, "source").orderBy("source")


def token_idf_stats(documents: DataFrame) -> DataFrame:
    """Inverse-document-frequency rarity profile per document: over the
    distinct tokens of each document, the mean and max ln(N/df) plus the
    hapax fraction (share of the document's unique tokens that appear in
    NO other document). High mean-idf flags vocabulary-outlier documents
    (gibberish, codes, boilerplate-free rarities) — the classic
    tf-idf-derived quality signal a curation pipeline thresholds on.

    Everything is JVM expressions: array_distinct + explode (map-only),
    ONE hash-agg on the token for document frequencies, one join back on
    the token (AQE skew-splits stopwords), one groupBy(doc_id) rollup.
    The corpus size N is a broadcast scalar. No vocabulary cap is needed
    because the df table is never collected — it stays distributed
    through the join (contrast unigram_logprob's broadcast LM, which IS
    capped).

    mean/max idf are rounded to 4 decimals like unigram_logprob so the
    DuckDB oracle pins values despite float summation order; hapax_frac
    is an exact rational (long/long division, bit-identical).
    """
    documents = ensure_min_parallelism(documents)
    d = documents.select(
        "doc_id",
        F.array_distinct(_tokens(F.lower(F.col("text")))).alias("t"),
    )
    pairs = d.select("doc_id", F.explode("t").alias("tok")).filter(
        F.col("tok") != ""
    )
    dfreq = pairs.groupBy("tok").agg(F.count("*").alias("df"))
    ndocs = documents.agg(F.count("*").alias("n_docs"))
    idf = F.log(F.col("n_docs") / F.col("df"))
    return (
        pairs.join(dfreq, "tok")
        .crossJoin(F.broadcast(ndocs))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_unique"),
            F.round(F.avg(idf), 4).alias("mean_idf"),
            F.round(F.max(idf), 4).alias("max_idf"),
            (
                F.sum((F.col("df") == 1).cast("long")) / F.count("*")
            ).alias("hapax_frac"),
        )
        .orderBy("doc_id")
    )


def ccnet_buckets(
    documents: DataFrame, lang_col: str = "lang"
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): within
    each language, split documents into head / middle / tail thirds by
    language-model score (here the corpus-trained add-k unigram LM of
    :func:`unigram_logprob`; CCNet uses a KenLM 5-gram — the bucketing
    rule is what this operator implements).

    Scale shape: NO per-language global sort. Per-language tercile
    THRESHOLDS come from one exact-``percentile`` aggregate (only the
    (lang, score) pairs shuffle — two narrow columns), broadcast back
    as an O(n_langs) table; every document then buckets with two
    comparisons, map-side. CCNet itself computes thresholds on a
    sample for the same reason; at 10^12 docs swap the exact
    percentile for ``percentile_approx`` or a sampled aggregate — the
    bucketing comparison is unchanged.

    Scores are rounded to 4 dp BEFORE the threshold aggregate so the
    threshold interpolation sees identical multisets in Spark and the
    DuckDB oracle (both compute type-7 linear-interpolated quantiles).
    Boundary rule: score > t_head -> head, score > t_tail -> middle,
    else tail (documents exactly AT a threshold fall down-bucket).
    """
    scored = unigram_logprob(documents).select(
        "doc_id", F.col("mean_logprob").alias("score")
    )
    docs = documents.select(
        "doc_id", F.col(lang_col).alias("lang")
    ).join(scored, "doc_id")
    thresholds = docs.groupBy("lang").agg(
        F.percentile(F.col("score"), F.lit(2.0 / 3.0)).alias("t_head"),
        F.percentile(F.col("score"), F.lit(1.0 / 3.0)).alias("t_tail"),
    )
    return (
        docs.join(F.broadcast(thresholds), "lang")
        .select(
            "doc_id",
            "lang",
            "score",
            F.when(F.col("score") > F.col("t_head"), F.lit("head"))
            .when(F.col("score") > F.col("t_tail"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
            # 8 dp: interpolated thresholds between 4 dp scores are
            # denominator-3 rationals, never at an 8th-place half-way
            # point, so both engines round identically
            F.round("t_head", 8).alias("t_head"),
            F.round("t_tail", 8).alias("t_tail"),
        )
    )


def script_profile(documents: DataFrame) -> DataFrame:
    """Unicode-script routing profile per document: letter counts and
    fractions for Latin / Cyrillic / Han / Arabic plus the dominant
    script — the multilingual-corpus router that runs BEFORE any
    language ID (scripts partition cheaper and more reliably than
    languages; CJK segmentation, RTL handling and per-script quality
    models all branch on it).

    Pure JVM regex counts (Java Unicode script properties), map-only.
    The DuckDB oracle uses RE2's equivalent ``\\p{Script}`` classes —
    the four scripts here agree between the engines by construction.
    """
    t = F.col("text")

    def cnt(script):
        return F.coalesce(
            F.length(
                F.regexp_replace(t, f"[^\\p{{Is{script}}}]", "")
            ),
            F.lit(0),
        )

    lat, cyr, han, ara = (
        cnt("Latin"), cnt("Cyrillic"), cnt("Han"), cnt("Arabic")
    )
    total = lat + cyr + han + ara
    safe = F.when(total == 0, F.lit(1)).otherwise(total)
    fr = lambda c: F.round(c / safe, 4)  # noqa: E731
    main = (
        F.when(total == 0, F.lit("none"))
        .when((lat >= cyr) & (lat >= han) & (lat >= ara), F.lit("latin"))
        .when((cyr >= han) & (cyr >= ara), F.lit("cyrillic"))
        .when(han >= ara, F.lit("han"))
        .otherwise(F.lit("arabic"))
    )
    return documents.select(
        "doc_id",
        total.alias("n_script_chars"),
        fr(lat).alias("latin_frac"),
        fr(cyr).alias("cyrillic_frac"),
        fr(han).alias("han_frac"),
        fr(ara).alias("arabic_frac"),
        main.alias("main_script"),
    )
