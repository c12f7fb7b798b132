"""Text-analysis operators over the ``documents`` table (SURVEY.md §2.11).

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen'd) — no Python UDFs. Regex patterns stay inside the
RE2/Java-regex common subset so the DuckDB oracle can run the literal same
pattern.

Scale notes: every operator here is a narrow per-row projection — no
shuffle at all until a caller aggregates. At 100 TB these pipeline with the
parquet scan and are bounded by I/O, which is the right bound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny deterministic stopword sets for the language-ID heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un"],
    "es": ["el", "la", "los", "y", "es", "un"],
}

# GPT-2-ish pre-tokenizer shape: letter runs, digit runs, single other glyphs.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
PUNCT_CLASS = r"[^.,;:!?]"


_live_scan_caches: list = []


def persist_scoped(df, eager: bool = False):
    """Persist an expensive exploded/hashed table that feeds several plan
    branches of one query build (signatures + verify sets, per-doc counts
    + probe joins, df-cut + self-join) and enter it in the build's cache
    scope. A bare .persist() leaks — CacheManager holds the entry until
    an explicit unpersist — so every entry lives until the next
    ``release_scoped()``, which the query registry calls at the start of
    each build (queries.py::register). A composite query such as
    minhash_recall_audit registers several substrates before executing
    anything; all of them stay live for its whole execution.

    A caller outside the registry (a streaming sink, a direct operator
    call) owns what it persists: it either releases the scope itself or
    persists and unpersists directly.

    Owned here (text) so dedup/sampling/text operators share one pool
    without an import cycle."""
    out = df.persist()
    if eager:
        # Materialize the cache NOW (r15, guide §5): when the substrate
        # feeds several of the consuming plan's independent exchange
        # subtrees, AQE submits those stages concurrently and each races
        # to fill the same cache — per-partition locks serialize the
        # writers but the losers burn task slots waiting (profiles showed
        # 2-3 full-width signature stages for one persisted index). One
        # up-front count() runs the substrate exactly once at full
        # parallelism; every consumer then reads the finished cache.
        out.count()
    _live_scan_caches.append(out)
    return out


def release_scoped() -> None:
    """Drop every scoped cache. Called at the start of each registered
    query build, so one query's substrates never occupy storage memory —
    or survive as implicit cross-run state — while a DIFFERENT query
    executes. Tolerates handles whose SparkSession was stopped."""
    while _live_scan_caches:
        old = _live_scan_caches.pop()
        try:
            old.unpersist(blocking=False)
        except Exception:
            pass


def spread(df, *key_cols: str):
    """Fan a NARROW input out to session parallelism before CPU-heavy
    per-row work (gram building, per-shingle md5, regex batteries).

    Why this exists: a parquet file is splittable only at row-group
    boundaries, so a single-row-group file arrives as ONE scan task and
    every downstream map-side expression runs on one core until the
    first shuffle — the md5-heavy dedup/text pipelines were measured
    spending most of their wall time in that serial stage. The fix is
    an explicit exchange: hash-repartition on the operator's own
    aggregation key, so the later groupBy/window reuses the
    partitioning and the net shuffle count is UNCHANGED — the exchange
    moves before the expensive projection instead of after it.

    Gated on the actual scan width: at real scale (or any multi-file /
    multi-row-group input at least as wide as the session parallelism)
    this is a no-op — no extra shuffle is ever added to a 100 TB plan.

    Streaming inputs pass through untouched (`.rdd` is illegal on a
    streaming DataFrame; inside foreachBatch the batch_df is a normal
    DataFrame and spreads fine). Caveat: probe the width only on
    scan-rooted inputs — `.rdd` on a post-shuffle lineage materializes
    those stages under AQE; every call site in this repo passes a
    freshly-read table."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    if key_cols:
        return df.repartition(sc.defaultParallelism, *[F.col(c) for c in key_cols])
    return df.repartition(sc.defaultParallelism)


def n_words(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.trim(text), r"\s+"))


def n_tokens_bpe_ish(text: Column) -> Column:
    """Token count under a BPE-style pre-tokenization regex."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN))


def punct_count(text: Column) -> Column:
    return F.length(F.regexp_replace(text, PUNCT_CLASS, ""))


def stopword_hits(text: Column, lang: str) -> Column:
    """Count of stopword occurrences for one language's list."""
    pat = r"\b(" + "|".join(STOPWORDS[lang]) + r")\b"
    return F.regexp_count(F.lower(text), F.lit(pat))


def quality_score(text: Column) -> Column:
    """Deterministic quality heuristic in [0, 1]:
    0.4 * length factor + 0.4 * mean-word-length factor + 0.2 * (1 - punct ratio).

    Mirrors the shape of published quality filters (length, symbol ratio,
    word stats) without any model dependency.
    """
    nw = n_words(text).cast("double")
    length_f = F.least(F.length(text).cast("double") / F.lit(500.0), F.lit(1.0))
    mean_wl = F.length(F.regexp_replace(text, r"\s+", "")).cast("double") / nw
    wl_f = F.when((mean_wl >= 3.0) & (mean_wl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_f = F.lit(1.0) - F.least(
        punct_count(text).cast("double") / F.greatest(nw, F.lit(1.0)), F.lit(1.0)
    )
    return F.round(0.4 * length_f + 0.4 * wl_f + 0.2 * punct_f, 4)


def language_id(text: Column) -> Column:
    """Stopword-vote language ID: argmax over per-language hit counts,
    deterministic tie-break by language code, 'und' when all zero."""
    scored = F.array(
        *[
            F.struct(stopword_hits(text, lang).alias("hits"), F.lit(lang).alias("lang"))
            for lang in sorted(STOPWORDS)
        ]
    )
    # max over (hits, lang) structs orders by hits then lang; ties on hits
    # therefore resolve to the lexicographically LAST lang — mirror in SQL.
    best = F.array_max(scored)
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint_md5(text: Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized lowercase text.

    The cheap exact-dup key — two docs differing only in case/whitespace
    collide. 32-hex-char string, groupable/joinable at any scale.
    """
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def profile(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document text profile: counts, ratios, quality, language, print.
    Map-only, but the regex battery is the whole cost — spread() so a
    single-row-group input doesn't run it on one core."""
    t = F.col(text_col)
    documents = spread(documents)
    return documents.select(
        "*",
        n_words(t).alias("n_words"),
        n_tokens_bpe_ish(t).alias("n_tokens"),
        F.length(t).alias("n_chars_recomputed"),
        F.round(punct_count(t).cast("double") / F.greatest(F.length(t), F.lit(1)), 4).alias(
            "punct_ratio"
        ),
        quality_score(t).alias("quality"),
        language_id(t).alias("lang_pred"),
        fingerprint_md5(t).alias("fingerprint"),
    )


# PII patterns, constrained to the RE2/Java-regex common subset so the
# literal same pattern runs in the DuckDB oracle. Redaction order is
# email -> ipv4 -> phone (phones must not re-match digits inside an
# already-masked IP, so IPs mask first among the digit patterns).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"\+?\d{3}[- ]\d{3}[- ]\d{4}", "<PHONE>"),
}


def redact_pii(
    documents: DataFrame, text_col: str = "text", out_col: str = "clean_text"
) -> DataFrame:
    """Mask emails / IPv4 addresses / phone numbers in ``text_col`` and
    count each kind (pre-redaction) — the standard PII scrub every
    public-web training corpus runs before release.

    Map-only JVM regex (regexp_count + chained regexp_replace): no
    shuffle, no UDF — pipelines with the scan at 100 TB. Appends
    ``out_col`` plus ``n_<kind>`` BIGINT columns.
    """
    t = F.col(text_col)
    counts = [
        F.regexp_count(t, F.lit(pat)).cast("bigint").alias(f"n_{kind}")
        for kind, (pat, _) in PII_PATTERNS.items()
    ]
    clean = t
    for pat, mask in PII_PATTERNS.values():
        clean = F.regexp_replace(clean, pat, mask)
    return documents.select("*", *counts, clean.alias(out_col))


def tokens_rows(
    documents: DataFrame, id_cols: list[str], text_col: str = "text"
) -> DataFrame:
    """(id_cols..., term) one row per token occurrence — the shared
    explode step of the corpus-statistics operators below. spread()
    round-robin first (no id key: callers group by varying keys), so
    the explode never runs in a 1-task single-row-group scan stage."""
    return spread(documents).select(
        *id_cols,
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
    )


def tfidf_signature_terms(
    documents: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Top-k TF-IDF signature terms per group (source/domain/language):
    the standard "what characterizes this slice of the corpus" audit.
    tf = term occurrences within the group; idf = ln(n_groups / df) with
    df = number of groups containing the term.

    Shuffle shape at 100 TB: one (group, term) aggregate (map-side
    combined — the explode's duplicates collapse before the exchange),
    one dims-sized term→df aggregate joined back (AQE broadcasts it when
    the vocabulary is small), and a rank window partitioned by group.
    n_groups rides a 1-row broadcast; nothing single-partition.
    """
    from pyspark.sql import Window

    toks = tokens_rows(documents, [group_col], text_col)
    tf = toks.groupBy(group_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_groups = documents.select(
        F.count_distinct(F.col(group_col)).alias("_ng")
    )
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_groups))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("_ng").cast("double") / F.col("df").cast("double")),
                6,
            ),
        )
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("tfidf"), F.col("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            group_col,
            "term",
            "tf",
            "df",
            "tfidf",
            F.col("rk").cast("long").alias("rk"),
        )
    )


def pmi_collocations(
    documents: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information:
    PMI(a,b) = ln( p(a,b) / (p(a) p(b)) ) over adjacent word pairs —
    the classic phrase-mining signal (new-terminology detection, tokenizer
    vocabulary candidates). ``min_count`` suppresses the unstable
    low-frequency tail, standard practice.

    Built on the same posexplode+lead gram builder as the dedup suite
    (per-doc window, the id shuffle the aggregates need anyway); unigram
    and bigram tables are both map-side-combined aggregates; the two
    probability joins are dims-sized (vocabulary), AQE-broadcast; the
    final top-k is a TakeOrdered, not a sort.
    """
    from pyspark.sql import Window as _W

    # the doc id MUST be projected before the explode: evaluated in the
    # same select as posexplode, monotonically_increasing_id runs once per
    # post-explode row, giving every token its own "document" and silently
    # producing zero bigrams
    ids = documents.select(
        F.monotonically_increasing_id().alias("_did"), F.col(text_col)
    )
    tok = ids.select(
        "_did",
        F.posexplode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
            "pos", "w1"
        ),
    )
    w = _W.partitionBy("_did").orderBy("pos")
    big = tok.select(
        F.col("w1"), F.lead("w1").over(w).alias("w2")
    ).filter(F.col("w2").isNotNull())
    uni = tok.groupBy(F.col("w1").alias("term")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    n_uni = uni.select(F.sum("cnt").alias("_nu"))
    pairs = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_cnt"))
    n_pairs = pairs.select(F.sum("pair_cnt").alias("_np"))
    scored = (
        pairs.filter(F.col("pair_cnt") >= min_count)
        .join(uni.select(F.col("term").alias("w1"), F.col("cnt").alias("c1")), "w1")
        .join(uni.select(F.col("term").alias("w2"), F.col("cnt").alias("c2")), "w2")
        .crossJoin(F.broadcast(n_pairs))
        .crossJoin(F.broadcast(n_uni))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("pair_cnt") / F.col("_np"))
                    / ((F.col("c1") / F.col("_nu")) * (F.col("c2") / F.col("_nu")))
                ),
                6,
            ),
        )
        .select("w1", "w2", "pair_cnt", "c1", "c2", "pmi")
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(k)


# RAKE phrase-boundary stopwords: the Gopher screen's core list plus the
# usual short function words — a FIXED constant so the oracle replays the
# same boundaries (RAKE's quality depends only mildly on the exact list)
RAKE_STOPWORDS = (
    "the", "be", "to", "of", "and", "a", "in", "that", "have", "i", "it",
    "for", "not", "on", "with", "he", "as", "you", "do", "at", "this",
    "but", "his", "by", "from", "is", "was", "are", "an", "or",
)


def rake_keywords(
    documents: DataFrame,
    text_col: str = "text",
    k: int = 15,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs; each word scores degree/frequency
    (degree = total length of phrases it appears in — rewards words that
    co-occur in long phrases); a phrase scores the sum of its word
    scores. The document-frequency-free keyword extractor beside TF-IDF
    (corpus-relative) and TextRank (graph-relative) — RAKE needs no
    corpus statistics at all, which is why it survives single-document
    and streaming settings.

    Exactness: word scores are single doubles from two exact integers,
    quantized to 1e-6 BEFORE the per-phrase sum; identical phrase texts
    therefore carry identical scores and the final group-by is exact.
    Shape: one posexplode, run-ids from a doc-partitioned window,
    vocabulary-sized score join, TakeOrdered top-k."""
    from pyspark.sql import Window as _W

    ids = documents.select(
        F.monotonically_increasing_id().alias("_did"), F.col(text_col)
    )
    tok = ids.select(
        "_did",
        F.posexplode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
            "pos", "w"
        ),
    )
    stop = F.col("w").isin(*RAKE_STOPWORDS) | (F.col("w") == "")
    w = _W.partitionBy("_did").orderBy("pos")
    runs = tok.select(
        "_did",
        "pos",
        "w",
        F.sum(stop.cast("long")).over(
            w.rowsBetween(_W.unboundedPreceding, 0)
        ).alias("_run"),
        stop.alias("_stop"),
    ).filter(~F.col("_stop"))
    inst = runs.groupBy("_did", "_run").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("_plen"),
    )
    wstats = (
        runs.join(inst.select("_did", "_run", "_plen"), ["_did", "_run"])
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("_freq"),
            F.sum("_plen").alias("_deg"),
        )
        .select(
            "w",
            F.round(F.col("_deg").cast("double") / F.col("_freq") * 1e6)
            .cast("bigint")
            .alias("_s6"),
        )
    )
    iscore = (
        runs.join(wstats, "w")
        .groupBy("_did", "_run")
        .agg(F.sum("_s6").alias("_ps6"))
    )
    out = (
        inst.join(iscore, ["_did", "_run"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.max("_ps6").cast("bigint").alias("score_q6"),
        )
    )
    return out.orderBy(F.desc("score_q6"), "phrase").limit(k)


def llr_collocations(
    documents: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-k bigram collocations by Dunning's log-likelihood ratio
    (Dunning 1993, "Accurate Methods for the Statistics of Surprise and
    Coincidence"): G2 = 2 * sum O_ij * ln(O_ij / E_ij) over the 2x2
    bigram contingency table — the collocation statistic that stays
    calibrated at LOW counts, where PMI is famously top-heavy on hapax
    pairs (PMI ranks rare pairs first; G2 weights by evidence mass).
    The standard complement to ``pmi_collocations``.

    Contingency margins come from the BIGRAM table itself (r1 = bigrams
    with w1 first, c2 = bigrams with w2 second, N = all bigrams), so the
    table is exactly 2x2-consistent. Each bigram's G2 is ONE double
    expression from four exact BIGINT counts — no cross-row float sums
    anywhere. Same posexplode+lead gram builder and vocabulary-sized
    joins as PMI; final top-k is a TakeOrdered on (g2_q4 desc, w1, w2).
    """
    from pyspark.sql import Window as _W

    ids = documents.select(
        F.monotonically_increasing_id().alias("_did"), F.col(text_col)
    )
    tok = ids.select(
        "_did",
        F.posexplode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
            "pos", "w1"
        ),
    )
    w = _W.partitionBy("_did").orderBy("pos")
    big = tok.select(
        F.col("w1"), F.lead("w1").over(w).alias("w2")
    ).filter(F.col("w2").isNotNull())
    pairs = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("o11"))
    r1 = pairs.groupBy("w1").agg(F.sum("o11").alias("r1"))
    c2 = pairs.groupBy("w2").agg(F.sum("o11").alias("c2"))
    n = pairs.agg(F.sum("o11").alias("_n"))

    def term(o, e):
        return F.when(o > 0, o.cast("double") * F.log(o.cast("double") / e)).otherwise(
            F.lit(0.0)
        )

    scored = (
        pairs.filter(F.col("o11") >= min_count)
        .join(r1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(n))
    )
    o11 = F.col("o11")
    o12 = F.col("r1") - o11
    o21 = F.col("c2") - o11
    o22 = F.col("_n") - F.col("r1") - F.col("c2") + o11
    nn = F.col("_n").cast("double")
    e11 = F.col("r1").cast("double") * F.col("c2") / nn
    e12 = F.col("r1").cast("double") * (nn - F.col("c2")) / nn
    e21 = (nn - F.col("r1")) * F.col("c2").cast("double") / nn
    e22 = (nn - F.col("r1")) * (nn - F.col("c2")) / nn
    g2 = 2.0 * (term(o11, e11) + term(o12, e12) + term(o21, e21) + term(o22, e22))
    out = scored.select(
        "w1",
        "w2",
        o11.cast("long").alias("pair_cnt"),
        F.col("r1").cast("long").alias("w1_first"),
        F.col("c2").cast("long").alias("w2_second"),
        F.round(g2 * 1e4).cast("long").alias("g2_q4"),
    )
    return out.orderBy(F.desc("g2_q4"), "w1", "w2").limit(k)


def zipf_slope(
    documents: DataFrame, text_col: str = "text", min_tf: int = 1
) -> DataFrame:
    """Zipf rank-frequency slope of the corpus vocabulary: the OLS slope
    of ln(tf) on ln(rank) (rank by tf desc, token asc). Natural corpora
    sit near -1; a strong deviation flags synthetic/duplicated text — a
    standard corpus-health audit before pretraining.

    One wordcount aggregate, then the rank is DECOMPOSED so no global
    window (single-task sort) ever runs: rank(token) =
    #{tf' > tf} + rank-within-its-tf-group. The within-group rank window
    partitions by tf; the cross-group offset is a theta self-join on the
    DISTINCT-tf count table, whose size is bounded by the number of
    distinct frequencies (~sqrt(corpus tokens) under Zipf) — broadcast
    territory at any corpus size. ``min_tf`` trims the hapax tail, where
    Zipf fits are known to bend.
    """
    from pyspark.sql import Window

    tok = documents.select(
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("token")
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    vocab = vocab.filter(F.col("tf") >= min_tf)
    # rank within equal-tf group: partitioned window, no global sort
    w = Window.partitionBy("tf").orderBy("token")
    within = vocab.withColumn("_rk_in", F.row_number().over(w))
    # offset per tf value = how many vocab entries have a strictly higher
    # tf — tiny theta self-join over distinct tf values
    tf_counts = vocab.groupBy("tf").agg(F.count(F.lit(1)).alias("_n"))
    hi = tf_counts.select(F.col("tf").alias("_tf_hi"), F.col("_n").alias("_n_hi"))
    offsets = (
        tf_counts.join(F.broadcast(hi), F.col("_tf_hi") > F.col("tf"), "left")
        .groupBy("tf")
        .agg(F.coalesce(F.sum("_n_hi"), F.lit(0)).alias("_offset"))
    )
    ranked = within.join(F.broadcast(offsets), "tf").withColumn(
        "rank", (F.col("_offset") + F.col("_rk_in")).cast("long")
    )
    return ranked.agg(
        F.round(F.regr_slope(F.log("tf"), F.log("rank")), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(F.log("tf"), F.log("rank")), 6).alias("zipf_intercept"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


def remove_boilerplate_segments(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 3,
    seg_words: int = 10,
    unit: str = "lines",
) -> DataFrame:
    """Frequent-segment (boilerplate) removal, the CCNet / RefinedWeb
    corpus-cleaning pass: drop every segment whose text occurs in at
    least ``min_docs`` DISTINCT documents (headers, footers, cookie
    banners, nav chrome), then reassemble each document from its kept
    segments in original order.

    ``unit="lines"`` segments on newlines (the web-corpus case);
    ``unit="word_chunks"`` uses positional runs of ``seg_words``
    whitespace tokens — the honest segmentation for single-line corpora
    (like the synthetic test tables), where shared chunks still mark
    cloned spans.

    Returns (id, text_clean, n_removed): empty string when every
    segment was boilerplate, so the row count is input-preserving (the
    caller chooses a min-length filter afterwards).

    Scale shape: one explode, one (segment -> distinct-doc count)
    aggregate whose output is segment-vocabulary-sized, one join of the
    exploded rows against the df >= min_docs removal set (tiny by
    construction — boilerplate is the heavy tail; AQE broadcasts it),
    and one per-doc ordered reassembly aggregate. No window over the
    corpus, no driver collection.
    """
    if unit not in ("lines", "word_chunks"):
        raise ValueError(f"unit must be 'lines' or 'word_chunks', got {unit!r}")
    if unit == "lines":
        seg_arr = F.split(F.col(text_col), r"\n")
        joiner = "\n"
    else:
        w = F.split(F.trim(F.col(text_col)), r"\s+")
        # chunk i = tokens [i*k+1, i*k+k], i in 0..floor((n-1)/k)
        seg_arr = F.transform(
            F.sequence(
                F.lit(0),
                F.floor((F.size(w) - F.lit(1)) / F.lit(seg_words)).cast("int"),
            ),
            lambda i: F.array_join(
                F.slice(w, i * F.lit(seg_words) + F.lit(1), seg_words), " "
            ),
        )
        joiner = " "
    segs = spread(documents, id_col).select(
        F.col(id_col), F.posexplode(seg_arr).alias("seg_idx", "seg")
    )
    freq = segs.groupBy("seg").agg(
        F.count_distinct(F.col(id_col)).alias("_df")
    )
    boiler = freq.filter(F.col("_df") >= min_docs).select("seg")
    kept = segs.join(boiler, "seg", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
            joiner,
        ).alias("text_clean")
    )
    removed = (
        segs.join(boiler, "seg", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_removed"))
    )
    return (
        documents.select(id_col)
        .join(rebuilt, id_col, "left")
        .join(removed, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
        )
    )


def winnow_fingerprints(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03): hash every char k-gram, slide a w-hash window, keep the
    minimum of each window, emit the DISTINCT minima as (id,
    fingerprint) rows. Guarantees every shared substring of length
    >= k + w - 1 contributes a shared fingerprint — the standard
    plagiarism / clone-span sketch.

    Tie-handling: the sketch is the distinct min VALUES per window (not
    the rightmost-position variant), which is position-free and thus
    engine-agnostic — the DuckDB oracle reproduces it bit-for-bit from
    the same 60-bit md5 gram hashes. A doc with fewer than w grams
    yields one fingerprint (the min over all its grams).

    Shape note — why explode + window rather than array HOFs: the
    "obvious" nested-array form (transform to hashes, then array_min of
    slice per window) lets Catalyst INLINE the hashes array into the
    window lambda, recomputing ~n md5 calls PER WINDOW POSITION — a
    silent O(n^2) per doc that took sf0.1 from seconds to minutes.
    Exploding gram positions to rows makes each md5 happen exactly once,
    and the sliding min is a rows-frame window partitioned by doc (one
    doc-key shuffle, never global).
    """
    # deferred import: dedup imports fingerprint_md5 from this module at
    # module level, so only a function-level import avoids the cycle
    from pyspark.sql import Window

    from .dedup import portable_hash60

    text = F.col(text_col)
    n_grams = F.greatest(F.length(text) - F.lit(k - 1), F.lit(1))
    # spread on the id key: the per-position md5 must not run in a
    # 1-task scan stage, and the sliding window below partitions by id
    # so the exchange is the one that window needed anyway
    g = spread(documents, id_col).select(
        F.col(id_col),
        F.col(text_col),
        F.explode(F.sequence(F.lit(1), n_grams)).alias("_i"),
    ).select(
        F.col(id_col),
        F.col("_i"),
        portable_hash60(text.substr(F.col("_i"), F.lit(k))).alias("_h"),
    )
    sliding = Window.partitionBy(id_col).orderBy("_i").rowsBetween(0, w - 1)
    per_doc = Window.partitionBy(id_col)
    wm = g.select(
        F.col(id_col),
        F.col("_i"),
        F.min("_h").over(sliding).alias("fingerprint"),
        F.count(F.lit(1)).over(per_doc).alias("_n"),
    )
    # full windows only: positions 1..n-w+1 (all of them when n < w)
    return (
        wm.filter(F.col("_i") <= F.greatest(F.col("_n") - F.lit(w - 1), F.lit(1)))
        .select(F.col(id_col), "fingerprint")
        .distinct()
    )


def winnow_shared_span_pairs(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_shared: int = 20,
    max_fp_freq: int | None = 100,
) -> DataFrame:
    """Substring-level near-dup candidate pairs from the winnowing
    sketch: documents sharing at least ``min_shared`` fingerprints share
    that many distinct >= k+w-1-char spans — the clone-span complement
    to token-set Jaccard (which is blind to ORDER and catches shuffled
    bags; this catches verbatim spans).

    ``max_fp_freq`` drops fingerprints present in more documents than
    the cap (ubiquitous substrings — the analogue of the shingle df-cut
    in ``dedup.jaccard_near_duplicates``) BEFORE the self-join, which
    bounds the pair fan-out per fingerprint to max_fp_freq^2 instead of
    corpus^2. Output: (doc_a, doc_b, shared_fps).
    """
    # persist-scoped (r15, guide §5.3): the winnowing sketch (per-char
    # md5 + window min, the dominant cost) is referenced FOUR times
    # below (df-frequency agg, cut join-back, and both self-join sides)
    # — uncached it re-ran once per reference
    fps = persist_scoped(winnow_fingerprints(documents, id_col, text_col, k, w))
    if max_fp_freq is not None:
        freq = fps.groupBy("fingerprint").agg(F.count(F.lit(1)).alias("_df"))
        keep = freq.filter(F.col("_df") <= max_fp_freq).select("fingerprint")
        fps = persist_scoped(fps.join(keep, "fingerprint"))
    a = fps.select(F.col(id_col).alias("doc_a"), "fingerprint")
    b = fps.select(F.col(id_col).alias("doc_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def bigram_logprob_scores(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: float = 0.5,
) -> DataFrame:
    """Language-model quality scoring, the CCNet recipe (Wenzek et al.,
    "CCNet: Extracting High Quality Monolingual Datasets", 2020) with a
    corpus-trained bigram model standing in for KenLM: score(doc) =
    mean negative ln P(w2 | w1) over the doc's bigrams, with add-k
    smoothing P(w2|w1) = (c(w1,w2) + k) / (c(w1) + k*V). High scores =
    improbable token sequences (noise, shuffled boilerplate, wrong-
    language spans); CCNet buckets the corpus by this into head/middle/
    tail quality tiers.

    Scale shape: the model is two aggregates bounded by bigram-TYPE and
    vocab cardinality (map-side combined), V rides a 1-row broadcast,
    and scoring is one join of doc bigrams against the model on
    (w1, w2) — AQE broadcasts the model when it fits. Training corpus ==
    scoring corpus here, so every bigram is in-model by construction
    (no unseen-event branch needed; k still smooths the estimate).

    Returns (id, n_bigrams, avg_neg_logprob) — one row per doc with
    >= 2 tokens.
    """
    from pyspark.sql import Window

    tok = documents.select(
        F.col(id_col),
        F.posexplode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
            "pos", "w1"
        ),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    bi = tok.withColumn("w2", F.lead("w1").over(w)).filter(F.col("w2").isNotNull())
    c_bi = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c_uni = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = tok.select(F.count_distinct("w1").alias("_v"))
    model = (
        c_bi.join(c_uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            (
                -F.log(
                    (F.col("c12") + F.lit(add_k))
                    / (F.col("c1") + F.lit(add_k) * F.col("_v"))
                )
            ).alias("nll"),
        )
    )
    return (
        bi.join(model, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.avg("nll"), 6).alias("avg_neg_logprob"),
        )
    )


def source_vocab_kl(
    documents: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group vocabulary drift audit: KL(P_group || P_corpus) over
    unigram distributions — the standard mixture-monitoring statistic
    for spotting a source whose token distribution has shifted from the
    corpus (scraper drift, format rot, language contamination).

    Group vocabularies are subsets of the corpus vocabulary by
    construction, so every KL term is finite. Two (group, term) /
    (term) aggregates (map-side combined, vocab-bounded) and one join —
    the same shuffle discipline as tfidf_signature_terms. Returns
    (group, n_tokens, kl_divergence).
    """
    toks = tokens_rows(documents, [group_col], text_col)
    g = toks.groupBy(group_col, "term").agg(F.count(F.lit(1)).alias("cg"))
    tot_g = g.groupBy(group_col).agg(F.sum("cg").alias("ng"))
    c = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cc"))
    tot = toks.select(F.count(F.lit(1)).alias("nc"))
    return (
        g.join(tot_g, group_col)
        .join(c, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy(group_col)
        .agg(
            F.max("ng").cast("long").alias("n_tokens"),
            F.round(
                F.sum(
                    (F.col("cg") / F.col("ng"))
                    * F.log(
                        (F.col("cg") / F.col("ng")) / (F.col("cc") / F.col("nc"))
                    )
                ),
                6,
            ).alias("kl_divergence"),
        )
    )


def heavy_hitters_exact(
    documents: DataFrame,
    threshold: float = 0.001,
    k: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """EXACT corpus heavy hitters (tokens with frequency >= ``threshold``
    of all tokens) at bounded shuffle cost: partition-local Misra-Gries
    summaries generate a small candidate superset, then one exact
    counting pass verifies only the candidates.

    Why not a plain wordcount + HAVING: that shuffles the ENTIRE term
    stream. Here each partition keeps at most ``k`` counters
    (k defaults to ceil(2/threshold)); pigeonhole guarantees any token
    with global share > 1/k exceeds share 1/k in at least one partition
    and therefore survives that partition's summary — so the candidate
    union (<= partitions * k rows, tiny) is a SUPERSET of every true
    heavy hitter. The verify pass semi-joins the token stream against
    the broadcast candidate set and counts exactly, so the only
    corpus-sized aggregate is restricted to candidates. Output
    (term, cnt, share) is EXACT and partition-independent — the sketch
    only affects which non-hitters get pre-filtered — which is what
    makes a DuckDB oracle possible for a sketch-based plan.

    Returns (term, cnt, share) for tokens with share >= threshold.
    """
    import math

    if not (0 < threshold < 1):
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if k is None:
        k = int(math.ceil(2.0 / threshold))
    elif k < math.ceil(1.0 / threshold):
        # pigeonhole needs local share >= threshold > 1/(k+1) to
        # guarantee summary survival; a smaller k silently loses true
        # heavy hitters, violating the EXACT contract
        raise ValueError(
            f"k={k} voids the superset guarantee for threshold={threshold}; "
            f"need k >= ceil(1/threshold) = {math.ceil(1.0 / threshold)}"
        )

    toks = tokens_rows(documents, [], text_col)

    def _mg(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            for term, c in pdf["term"].value_counts().items():
                counters[term] = counters.get(term, 0) + int(c)
            if len(counters) > k:
                # mergeable Misra-Gries reduction: subtract the
                # (k+1)-th largest count from everyone, drop <= 0
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {
                    t: c - cut for t, c in counters.items() if c - cut > 0
                }
        # one NULL-term row carries the partition's token count, so the
        # grand total comes out of the SAME scan as the candidates
        # instead of a third pass over the corpus
        yield pd.DataFrame(
            {
                "term": list(counters.keys()) + [None],
                "n": [0] * len(counters) + [n_part],
            }
        )

    summaries = toks.mapInPandas(_mg, schema="term string, n long")
    # scoped-cached: the MG summary feeds both the candidate set and the
    # grand total — without a persist the scan would run twice
    summaries = persist_scoped(summaries)
    candidates = summaries.filter(F.col("term").isNotNull()).select("term").distinct()
    total = summaries.filter(F.col("term").isNull()).agg(
        F.sum("n").alias("_n")
    )
    return (
        toks.join(F.broadcast(candidates), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.ceil(F.lit(threshold) * F.col("_n")))
        .select(
            "term",
            F.col("cnt").cast("long").alias("cnt"),
            F.round(F.col("cnt") / F.col("_n"), 6).alias("share"),
        )
    )


def exact_shared_spans(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 25,
    min_span: int = 60,
    max_gram_freq: int | None = 100,
) -> DataFrame:
    """EXACT maximal shared character spans between document pairs — the
    relational form of exact-substring training-data dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better",
    which uses suffix arrays on one big machine; an equi-join + islands
    is the shuffle-native equivalent).

    Every char k-gram position is hashed once (explode + substr, the
    same no-HOF-inlining shape as winnow_fingerprints), rare grams
    (df-cut <= ``max_gram_freq`` distinct docs) self-join, and runs of
    consecutive positions on the same alignment DIAGONAL (pos_a - pos_b)
    collapse via gaps-and-islands: row_number along the diagonal minus
    position is constant exactly within one contiguous shared run. A run
    of length r means an exact shared span of r + k - 1 chars.

    Unlike winnowing (a 1/w sampled sketch for candidate pairing), this
    returns exact span boundaries: (doc_a, doc_b, start_a, start_b,
    span_chars >= ``min_span``). The df-cut bounds join fan-out to
    max_gram_freq^2 per gram value — the same boilerplate guard as the
    shingle df-cut in dedup.jaccard_near_duplicates; at corpus scale the
    cut list is itself data-derived and the join shuffles on the 60-bit
    gram hash (uniform, skew-safe after the cut)."""
    from pyspark.sql import Window

    from .dedup import portable_hash60

    text = F.col(text_col)
    n_pos = F.greatest(F.length(text) - F.lit(k - 1), F.lit(1))
    # spread first: one md5 per char position is the dominant map cost
    # and must not run inside a 1-task single-row-group scan stage
    # persisted EAGER (r15, guide §5): the hashed position table feeds
    # the df-cut aggregate AND both sides of the self-join; lazily
    # persisted, those three consumers are submitted concurrently by AQE
    # and each re-ran the per-char-position md5 pipeline (~30 s task CPU)
    # while the cache was cold — profile showed the identical
    # in=12.4MB/shW=15MB stage three times. One up-front count()
    # materializes it exactly once at full width.
    g = persist_scoped(
        spread(documents, id_col).select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(1), n_pos)).alias("_i"),
            text,
        ).select(
            F.col(id_col),
            F.col("_i"),
            portable_hash60(text.substr(F.col("_i"), F.lit(k))).alias("_h"),
        ),
        eager=True,
    )
    if max_gram_freq is not None:
        keep = (
            g.groupBy("_h")
            .agg(F.count_distinct(id_col).alias("_df"))
            .filter(F.col("_df") <= max_gram_freq)
            .select("_h")
        )
        g = g.join(keep, "_h")  # AQE may broadcast `keep`
    a = g.select(F.col(id_col).alias("doc_a"), F.col("_i").alias("ia"), "_h")
    b = g.select(F.col(id_col).alias("doc_b"), F.col("_i").alias("ib"), "_h")
    pairs = (
        a.join(b, "_h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ia", "ib", (F.col("ia") - F.col("ib")).alias("diag"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("ia")
    runs = pairs.withColumn("grp", F.col("ia") - F.row_number().over(w))
    return (
        runs.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("ia").cast("long").alias("start_a"),
            F.min("ib").cast("long").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(k - 1)).cast("long").alias("span_chars"),
        )
        .filter(F.col("span_chars") >= min_span)
        .select("doc_a", "doc_b", "start_a", "start_b", "span_chars")
    )


def bm25_scores(
    documents: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed query-term
    set — the lexical half of a retrieval stack (the embedding half is
    operators/similarity.py). idf uses the Lucene/BM25+ form
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` which stays positive even for
    terms in most documents.

    Relational all the way: tf is a (doc, term) count restricted to the
    query terms BEFORE the aggregate (the explode filter pushes into the
    scan projection, so common-corpus terms never shuffle); df and the
    (N, avgdl) corpus stats are query-terms-sized / single-row broadcast
    sides. At 100 TB this is one map-side-combined agg over only the
    matching postings plus two broadcast joins — no global sort, no
    all-terms vocabulary shuffle.

    Returns (id_col, n_terms_matched, bm25) for documents matching >= 1
    query term; callers TakeOrdered the top-k.
    """
    toks = tokens_rows(documents, [id_col], text_col)
    dl = spread(documents, id_col).select(
        F.col(id_col),
        F.size(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
        .cast("double")
        .alias("_dl"),
    )
    corpus = dl.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.avg("_dl").alias("_avgdl"),
    )
    tf = (
        toks.filter(F.col("term").isin(list(query_terms)))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("double").alias("_tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("_df"))
    idf = F.log(
        F.lit(1.0) + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    norm = F.col("_tf") + k1 * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
    contrib = idf * F.col("_tf") * (k1 + 1.0) / norm
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(corpus))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms_matched"),
            F.sum(contrib).alias("bm25"),
        )
    )


def naive_bayes_confusion(
    docs: DataFrame,
    class_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Multinomial Naive Bayes over whitespace tokens, trained and scored
    on the same corpus (resubstitution), reported as a confusion matrix
    (actual, predicted, n) — the fastText-shaped linear text classifier a
    curation pipeline uses for source/quality routing, expressed entirely
    as joins + aggregates (McCallum & Nigam AAAI'98 workshop).

    Model: argmax_c [ ln(docs_c / N) + sum_t tf_doc(t) * ln((tf_c(t)+1) /
    (T_c + V)) ] with add-one smoothing over the corpus vocabulary V.
    Scores are rounded to 6 before the argmax (rank window ordered
    score DESC, class ASC) so the prediction is reproducible bit-for-bit
    on any engine running the same formula.

    Plan shape — the SPARSE decomposition: the smoothed sum splits as
    sum_t cnt*ln(tf_c+1) - total_cnt(doc)*ln(T_c + V), because an absent
    (class, token) pair contributes ln(0+1) = 0 to the first term. So
    scoring needs only an INNER join of doc-token counts against the
    class-token table on the token key — on a real sparse vocabulary far
    fewer rows than the naive |doc tokens| x |classes| cross-score — plus
    a |docs| x |classes| base frame from a broadcast |classes|-row prior
    table. The argmax window partitions by doc over |classes| rows each.
    Nothing here is all-pairs; the big tables shuffle on (doc, token)
    then (class, token), both pre-combined.
    """
    from pyspark.sql import Window
    toks = docs.select(
        F.col(id_col).alias("_doc"),
        F.col(class_col).alias("_actual"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
            "_tok"
        ),
    ).filter(F.col("_tok") != "")
    dtc = toks.groupBy("_doc", "_actual", "_tok").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    ct = dtc.groupBy(F.col("_actual").alias("_cls"), "_tok").agg(
        F.sum("_cnt").alias("_tf")
    )
    ctot = ct.groupBy("_cls").agg(F.sum("_tf").alias("_T"))
    # vocab size and corpus size as 1-row broadcast aggregates, NOT
    # driver-side .count() actions: the counts ride inside the single
    # job (two fewer jobs, no lineage recomputation of the token stream)
    vstats = ct.agg(F.count_distinct("_tok").cast("double").alias("_V"))
    nstats = docs.agg(F.count(F.lit(1)).cast("double").alias("_N"))
    priors = (
        docs.groupBy(F.col(class_col).alias("_cls"))
        .agg(F.count(F.lit(1)).alias("_dc"))
        .join(ctot, "_cls")
        .crossJoin(F.broadcast(vstats))
        .crossJoin(F.broadcast(nstats))
        .select(
            "_cls",
            F.log(F.col("_dc") / F.col("_N")).alias("_prior"),
            (F.col("_T") + F.col("_V")).alias("_denom"),
        )
    )
    sparse = (
        dtc.join(ct.withColumnRenamed("_tf", "_ctf"), "_tok")
        .groupBy("_doc", "_cls")
        .agg(F.sum(F.col("_cnt") * F.log(F.col("_ctf") + 1)).alias("_hit"))
    )
    base = (
        dtc.groupBy("_doc", "_actual")
        .agg(F.sum("_cnt").alias("_total"))
        .crossJoin(F.broadcast(priors))
    )
    scored = base.join(sparse, ["_doc", "_cls"], "left").select(
        "_doc",
        "_actual",
        "_cls",
        (
            F.col("_prior")
            + F.coalesce(F.col("_hit"), F.lit(0.0))
            - F.col("_total") * F.log("_denom")
        ).alias("_score"),
    )
    w = Window.partitionBy("_doc").orderBy(
        F.round("_score", 6).desc(), F.col("_cls").asc()
    )
    pred = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("_doc", "_actual", F.col("_cls").alias("predicted"))
    )
    return pred.groupBy(
        F.col("_actual").alias("actual"), "predicted"
    ).agg(F.count(F.lit(1)).alias("n"))
