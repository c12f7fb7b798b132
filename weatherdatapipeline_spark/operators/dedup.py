"""Deduplication operators (SURVEY.md §2.11): exact, n-gram Jaccard,
MinHash + LSH, SimHash.

Design for 100 TB
-----------------
- Exact dedup is a hash aggregate on a fingerprint (md5 of normalized
  text), never on the raw text: grouping keys stay 32 bytes, and the
  aggregate combines map-side.
- Pairwise similarity is NEVER all-pairs. The relational Jaccard joins on
  shared shingles (only docs sharing a shingle ever meet); MinHash/LSH
  joins on band buckets. Both are equi-joins Catalyst can shuffle-hash —
  candidate generation is linear-ish in data size, not quadratic.
- Hot keys: a stopword-only shingle is a skew bomb (every doc joins every
  doc). ``max_shingle_freq`` drops shingles whose document frequency
  exceeds a cap before the self-join — the standard df-cut from the
  near-dup literature; AQE skew-join handles the residue.
- All hashing is ``xxhash64`` (JVM built-in, codegen'd) — no Python.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iterate import fixpoint
from .text import fingerprint_md5, persist_scoped as _persist_scoped, spread

logger = logging.getLogger(__name__)

# Default document-frequency cut for the shared-shingle self-join: drop
# shingles present in more than max(DF_CUT_FLOOR, DF_CUT_FRACTION * n_docs)
# documents. One boilerplate 3-gram shared by 10^6 docs would otherwise
# produce 10^12 candidate rows; a shingle in >1% of a large corpus carries
# no near-dup signal anyway (it's corpus-level boilerplate, not content).
DF_CUT_FLOOR = 100
DF_CUT_FRACTION = 0.01


def _pin_width(df: DataFrame, *key_cols: str) -> DataFrame:
    """Pin a candidate-pair table's partition width on its join key before
    the per-doc set/signature verify joins (r15, same class as the
    hamming_block_pairs fix — guide §2.5): the candidate table's BYTES are
    tiny (two longs per row), so AQE's bytes-based coalescing folds the
    verify join down to a handful of tasks blind to the per-row
    array_intersect cost over ~hundreds-element shingle arrays (measured:
    minhash_recall_audit ran its two verify joins in 4 tasks, 1.85 s wall
    each). The repartition IS the exchange a shuffled verify join needs
    anyway; when AQE would instead broadcast the set table, this adds one
    narrow shuffle of (long, long) rows — noise against the unlocked
    parallelism."""
    return df.repartition(
        df.sparkSession.sparkContext.defaultParallelism,
        *[F.col(c) for c in key_cols],
    )


def dedup_exact(
    df: DataFrame, keys: list[str], tiebreaker: str, normalize_text_col: str | None = None
) -> DataFrame:
    """Keep exactly one row per key-tuple: the one with the smallest
    ``tiebreaker`` (deterministic, unlike bare ``dropDuplicates``).

    Implemented as hash-aggregate min(tiebreaker) per key + inner join back
    on the (unique) tiebreaker. ``min_by(struct(*))`` would be one pass but
    compiles to SortAggregate (struct payloads aren't hash-agg buffer
    types) — a per-partition sort of FULL rows; the min+join form keeps
    both sides HashAggregate/HashJoin and shuffles the narrow (key,
    tiebreaker) projection for the aggregate. Requires ``tiebreaker`` to be
    row-unique (a primary key).

    If ``normalize_text_col`` is given, that column is replaced by its md5
    fingerprint for grouping (case/whitespace-insensitive exact dedup).
    """
    work = df
    group_cols = list(keys)
    if normalize_text_col:
        work = work.withColumn("_fp", fingerprint_md5(F.col(normalize_text_col)))
        group_cols = [c for c in group_cols if c != normalize_text_col] + ["_fp"]
    keep = work.groupBy(*group_cols).agg(F.min(tiebreaker).alias(tiebreaker))
    return df.join(keep.select(tiebreaker), tiebreaker, "inner").select(*df.columns)


def word_ngrams(text_col: str, n: int = 3) -> F.Column:
    """Ordered word n-grams (with duplicates; lowercased, whitespace-
    tokenized); a doc shorter than ``n`` tokens yields its single truncated
    gram.

    Built as a zip_with chain over n-1 shifted copies of the token array —
    n-1 linear passes with a cheap concat lambda. The obvious
    ``transform(sequence, i -> concat_ws(slice(tokens, i, n)))`` is ~5x
    slower: HOF lambdas evaluate interpreted and that shape pays a slice
    array-copy PER GRAM (measured 6s -> 1s on 5k docs at sf0.1)."""
    w = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    acc = w
    for k in range(1, n):
        shifted = F.slice(w, k + 1, F.greatest(F.size(w) - k, F.lit(0)))
        acc = F.zip_with(
            acc,
            shifted,
            lambda a, b: F.when(a.isNull() | b.isNull(), F.lit(None)).otherwise(
                F.concat_ws(" ", a, b)
            ),
        )
    return F.when(F.size(w) >= n, F.array_compact(acc)).otherwise(
        F.array(F.array_join(w, " "))
    )


def word_shingles(text_col: str, n: int = 3) -> F.Column:
    """Array of DISTINCT word n-gram shingles."""
    return F.array_distinct(word_ngrams(text_col, n))


def _df_cut(
    pairs: DataFrame,
    documents: DataFrame,
    id_col: str,
    max_shingle_freq: int | str | None,
) -> DataFrame:
    """Drop shingles whose document frequency exceeds the cap.

    ``max_shingle_freq="auto"`` scales the cap with corpus size —
    ``greatest(DF_CUT_FLOOR, ceil(DF_CUT_FRACTION * n_docs))`` — computed
    relationally (a 1-row broadcast of the doc count), so no driver-side
    action is added to the plan.
    """
    if max_shingle_freq is None:
        return pairs
    freq = pairs.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    if max_shingle_freq == "auto":
        ndocs = documents.select(F.count_distinct(F.col(id_col)).alias("_ndocs"))
        keep = (
            freq.crossJoin(F.broadcast(ndocs))
            .filter(
                F.col("df")
                <= F.greatest(
                    F.lit(DF_CUT_FLOOR).cast("long"),
                    F.ceil(F.lit(DF_CUT_FRACTION) * F.col("_ndocs")),
                )
            )
            .select("shingle")
        )
    else:
        keep = freq.filter(F.col("df") <= max_shingle_freq).select("shingle")
    return pairs.join(keep, "shingle", "inner")  # AQE may broadcast `keep`


def shingle_pairs(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_shingle_freq: int | str | None = None,
    hashed: bool = True,
) -> DataFrame:
    """(doc_id, shingle) exploded distinct pairs, optionally df-cut
    (``max_shingle_freq``: an int cap, ``"auto"`` for the corpus-scaled
    default, or None for no cut).

    ``hashed=True`` replaces the shingle string by its xxhash64 — the
    self-join then shuffles 8-byte keys instead of ~25-byte strings (the
    dominant cost of the near-dup path at scale). A 64-bit collision would
    merge two shingles; at any realistic shingle cardinality the birthday
    probability is negligible (~1e-11 at 10^5 distinct shingles).
    """
    if hashed:
        pairs = hashed_gram_rows(documents, id_col, text_col, n).distinct()
    else:
        pairs = gram_rows(documents, id_col, text_col, n).distinct()
    if max_shingle_freq is not None:
        # persist-scoped (r15, guide §5.3): _df_cut consumes the uncut
        # gram table TWICE (the df-frequency aggregate and the join-back
        # left side) — uncached, the tokenize+window+distinct pipeline
        # (the dominant cost of every shingle-set operator) ran once per
        # reference; profiles of the cluster family showed 4+ full-width
        # tokenize stages per query
        pairs = _persist_scoped(pairs)
    return _df_cut(pairs, documents, id_col, max_shingle_freq)


def gram_rows(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, shingle) STRING word n-gram rows — one row per gram POSITION
    (duplicates kept; distinct is the caller's choice).

    Grams are built via posexplode + lead() window rather than the array
    transform(slice+concat) lambda: measured 4x faster (HOF lambdas
    evaluate interpreted, and slice copies an array per shingle), and a
    10^6-token document becomes 10^6 narrow rows instead of one
    10^6-element array cell — bounded task memory at any doc length. The
    id shuffle it introduces is one the downstream groupBys need anyway.
    A short doc (< n tokens) keeps its single truncated gram at pos 0 —
    same semantics as the array-slice construction in word_shingles.
    """
    from pyspark.sql import Window as _W

    # spread on the id key: the lead-window below partitions by id, so
    # this is the exchange it needed anyway, moved before the explode
    tok = spread(documents, id_col).select(
        F.col(id_col),
        F.posexplode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
            "pos", "tk"
        ),
    )
    w = _W.partitionBy(id_col).orderBy("pos")
    leads = [F.col("tk")] + [F.lead("tk", j).over(w) for j in range(1, n)]
    built = tok.select(
        F.col(id_col),
        "pos",
        F.concat_ws(" ", *leads).alias("s"),
        F.count(F.lit(1)).over(_W.partitionBy(id_col)).alias("ntok"),
    )
    kept = built.filter((F.col("pos") <= F.col("ntok") - n) | (F.col("pos") == 0))
    return kept.select(id_col, F.col("s").alias("shingle"))


def hashed_gram_rows(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """``gram_rows`` with each gram replaced by its xxhash64 — the scale
    family's 8-byte join keys (see shingle_pairs)."""
    return gram_rows(documents, id_col, text_col, n).select(
        id_col, F.xxhash64("shingle").alias("shingle")
    )


def _shingle_pair_counts(
    documents: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_shingle_freq: int | str | None,
) -> DataFrame:
    """Shared candidate-generation + pair-counting core of the set-
    similarity operators: df-cut shingle table (persisted — it feeds
    three plan branches), shared-shingle self-join, per-pair common
    count, per-doc set sizes. Returns (doc_a, doc_b, common, size_a,
    size_b); the caller derives its score (Jaccard, containment, ...)
    so a candidate-generation fix lands in every metric at once."""
    pairs = _persist_scoped(
        shingle_pairs(documents, id_col, text_col, n, max_shingle_freq)
    )
    sizes = pairs.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = pairs.select(F.col(id_col).alias("doc_a"), "shingle")
    b = pairs.select(F.col(id_col).alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("size_b"))
    return common.join(sa, "doc_a").join(sb, "doc_b")


def jaccard_near_duplicates(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.4,
    max_shingle_freq: int | str | None = "auto",
    log_cut: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs that share >=1 shingle.

    Fully relational (explode -> self-equi-join on shingle -> count), so a
    SQL oracle can replicate it verbatim. Returns
    (doc_a, doc_b, common, size_a, size_b, jaccard) with doc_a < doc_b.

    The df-cut defaults ON (``max_shingle_freq="auto"``): one hot
    boilerplate shingle otherwise makes the shingle self-join quadratic.
    Jaccard is then computed over the df-filtered shingle sets (the
    standard df-cut semantics). Pass ``None`` for uncut exact Jaccard on
    small corpora. ``log_cut=True`` runs one extra small job to report how
    many (doc, shingle) rows the cut removed.
    """
    if log_cut and max_shingle_freq is not None:
        cut = shingle_pairs(documents, id_col, text_col, n, max_shingle_freq)
        uncut = shingle_pairs(documents, id_col, text_col, n, None)
        n_cut = uncut.count() - cut.count()
        logger.info(
            "jaccard df-cut (max_shingle_freq=%s) removed %d (doc, shingle) rows",
            max_shingle_freq,
            n_cut,
        )
    counted = _shingle_pair_counts(documents, id_col, text_col, n, max_shingle_freq)
    return (
        counted.withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("size_a") + F.col("size_b") - F.col("common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "size_a", "size_b", "jaccard")
    )


def containment_near_duplicates(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | str | None = "auto",
) -> DataFrame:
    """Overlap-coefficient (Szymkiewicz-Simpson) near-dup pairs:
    ``common / min(|A|, |B|)`` over the same df-cut shingle sets as
    ``jaccard_near_duplicates``. Containment catches what Jaccard
    structurally misses — a short document EMBEDDED inside a long one
    (quotes, mirrored articles with added chrome) scores ~1.0 here but
    ~|A|/|B| under Jaccard, which vanishes as the size gap grows. Same
    candidate generation (shared-shingle equi-join, never all-pairs);
    returns (doc_a, doc_b, common, size_a, size_b, containment)."""
    counted = _shingle_pair_counts(documents, id_col, text_col, n, max_shingle_freq)
    return (
        counted.withColumn(
            "containment",
            F.round(
                F.col("common") / F.least("size_a", "size_b").cast("double"), 6
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "common", "size_a", "size_b", "containment")
    )


def contamination_check(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Train/eval contamination audit: for each eval document, how many of
    its word n-grams appear anywhere in the training corpus (the standard
    n-gram-collision membership test used before pretraining runs).

    Relational: both sides explode to hashed n-grams (the posexplode+lead
    builder — see hashed_gram_rows; ~4x faster than the array-HOF path and
    task-memory-bounded at any doc length); a semi-join-style aggregate
    counts collisions — the corpus side is reduced to DISTINCT n-grams
    first, so the join is |eval n-grams| x hit-rate, never corpus-sized.
    Returns (doc_id, n_ngrams, n_hits, contamination).
    """
    corpus_grams = (
        hashed_gram_rows(corpus, id_col, text_col, n)
        .select(F.col("shingle").alias("g"))
        .distinct()
    )
    eval_grams = (
        hashed_gram_rows(eval_docs, id_col, text_col, n)
        .select(id_col, F.col("shingle").alias("g"))
        .distinct()
    )
    hits = (
        eval_grams.join(corpus_grams.withColumn("_hit", F.lit(1)), "g", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"),
        )
    )
    return hits.select(
        id_col,
        "n_ngrams",
        "n_hits",
        F.round(F.col("n_hits") / F.col("n_ngrams"), 6).alias("contamination"),
    )


def decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    max_hits: int = 0,
) -> DataFrame:
    """Filter-side counterpart of ``contamination_check``: DROP training
    documents that share more than ``max_hits`` distinct word n-grams with
    the eval set (the decontamination pass run before pretraining so eval
    answers don't leak into training data).

    The eval gram set is DISTINCT-reduced and tiny relative to the corpus
    (eval suites are thousands of docs), so the hit join broadcasts; the
    corpus side is one gram-explode + aggregate — linear in corpus size,
    never |corpus| x |eval|. Returns surviving corpus rows with an
    ``n_eval_hits`` count column appended.
    """
    eval_grams = (
        hashed_gram_rows(eval_docs, id_col, text_col, n)
        .select(F.col("shingle").alias("g"))
        .distinct()
    )
    corpus_grams = (
        hashed_gram_rows(corpus, id_col, text_col, n)
        .select(id_col, F.col("shingle").alias("g"))
        .distinct()
    )
    hits = (
        corpus_grams.join(F.broadcast(eval_grams), "g", "inner")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_eval_hits"))
    )
    return (
        corpus.join(hits, id_col, "left")
        .withColumn("n_eval_hits", F.coalesce(F.col("n_eval_hits"), F.lit(0)))
        .filter(F.col("n_eval_hits") <= max_hits)
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    ``num_perm/bands`` rows, bucket-hash each band, self-join on
    (band, bucket). Returns distinct candidate pairs (doc_a < doc_b).

    The join key is (band_id, bucket_hash) — high cardinality, uniform, so
    the shuffle is balanced; candidates ~ collisions, not |docs|^2.
    """
    rows = num_perm // bands
    banded = signatures.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[F.col("signature")[b * rows + r] for r in range(rows)])
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    a = banded.select(F.col(id_col).alias("doc_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("doc_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_near_duplicates(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.4,
) -> DataFrame:
    """MinHash/LSH candidate generation + exact Jaccard verification of the
    candidates only. At scale this is THE near-dup path: candidate count is
    tunable via (bands, rows) to target the threshold, and verification
    touches only candidate pairs.
    """
    pairs = shingle_pairs(documents, id_col, text_col, n)
    mins = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}") for i in range(num_perm)
    ]
    # ONE aggregation pass yields both the signature mins and the verify
    # sets, so the exploded shingle stream (explode + distinct + hashing,
    # the expensive part) is computed once and what persists is the
    # doc-count-sized aggregate, not ~300x-the-docs exploded rows
    agg = _persist_scoped(
        pairs.groupBy(id_col).agg(*mins, F.collect_list("shingle").alias("_sh"))
    )
    sigs = agg.select(
        id_col, F.array(*[F.col(f"h{i}") for i in range(num_perm)]).alias("signature")
    )
    cands = minhash_lsh_candidates(sigs, id_col, num_perm, bands)
    # verify by joining each candidate pair to the two docs' shingle-hash
    # ARRAYS and intersecting in-row: two equi-joins on doc ids (AQE
    # broadcasts the set table when it fits) instead of the exploded
    # 3-join shape — measured ~1.5x faster and far fewer stages. Per-doc
    # arrays are bounded by doc length, so row width stays sane.
    a = agg.select(F.col(id_col).alias("doc_a"), F.col("_sh").alias("_sh_a"))
    b = agg.select(F.col(id_col).alias("doc_b"), F.col("_sh").alias("_sh_b"))
    joined = (
        _pin_width(cands, "doc_a").join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_sh_a", "_sh_b")).alias("common"),
            F.size("_sh_a").alias("size_a"),
            F.size("_sh_b").alias("size_b"),
        )
    )
    return (
        joined.withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("size_a") + F.col("size_b") - F.col("common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def portable_hash60(*cols) -> "Column":
    """Deterministic 60-bit hash any SQL engine can recompute:
    ``conv(substr(md5(concat_ws('|', cols)), 1, 15), 16, 10)`` as BIGINT
    (DuckDB: ``('0x' || substr(md5(a || '|' || b), 1, 15))::BIGINT``).
    Slower than the JVM ``xxhash64`` (md5 + string render) — the scale
    path keeps xxhash64; this family exists so LSH pipelines can be
    oracle-differential-checked end to end."""
    rendered = [
        (F.col(c) if isinstance(c, str) else c).cast("string") for c in cols
    ]
    return F.conv(F.substring(F.md5(F.concat_ws("|", *rendered)), 1, 15), 16, 10).cast(
        "long"
    )


_MH_PRIME = 2147483647  # 2^31 - 1 (Mersenne): a*h < 2^62, no BIGINT overflow
# in Spark (silent wrap avoided) or DuckDB (which would raise)


def minhash_affine_coeffs(num_perm: int) -> list:
    """Deterministic (a_i, b_i) for the universal affine permutation family
    ``h_i(x) = (a_i * x + b_i) mod p``, p = 2^31 - 1. Derived from md5 of
    the index so any engine or reviewer can regenerate them — the DuckDB
    oracle embeds the same constants as a VALUES list.

    Why affine: hashing ``(shingle, i)`` per permutation costs num_perm
    md5 calls per shingle row; one base hash + num_perm integer mixes is
    the textbook minwise family (Broder et al., "Min-wise independent
    permutations") at ~1/num_perm the hash cost. Both operands stay below
    2^31, so products fit BIGINT exactly in every SQL engine."""
    import hashlib

    coeffs = []
    for i in range(num_perm):
        a = int(hashlib.md5(f"mh-a-{i}".encode()).hexdigest()[:8], 16) % (_MH_PRIME - 1) + 1
        b = int(hashlib.md5(f"mh-b-{i}".encode()).hexdigest()[:8], 16) % _MH_PRIME
        coeffs.append((a, b))
    return coeffs


def _affine_min_aggs(num_perm: int, base_col: str = "_hp") -> list:
    """num_perm ``min((a_i * base + b_i) % p)`` aggregate columns over a
    precomputed base-hash column — the portable signature in one pass."""
    return [
        F.min(
            (F.lit(a).cast("long") * F.col(base_col) + F.lit(b).cast("long")) % _MH_PRIME
        ).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_affine_coeffs(num_perm))
    ]


def portable_shingle_hashes(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, _h60) rows: 60-bit md5 hash of each DISTINCT word n-gram
    shingle. Distinct-by-construction — ``word_shingles`` is
    ``array_distinct``'ed per doc, so no distinct shuffle is needed and
    the explode feeds the signature groupBy's map-side combine directly.
    Downstream set math (minhash mins, Jaccard verify) runs on 8-byte
    longs instead of ~25-byte strings; a 60-bit collision merging two
    shingles is ~1e-14 per doc at 10^3 shingles, and the DuckDB oracle
    recomputes the identical hashed sets, so the differential check is
    exact regardless."""
    # spread BEFORE the explode: gram building + per-shingle md5 is the
    # pipeline's dominant map cost and must not run in a 1-task scan
    # stage; the downstream signature groupBy(id) reuses this partitioning
    return spread(documents, id_col).select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("_s")
    ).select(F.col(id_col), portable_hash60(F.col("_s")).alias("_h60"))


def minhash_near_duplicates_portable(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.4,
) -> DataFrame:
    """``minhash_near_duplicates`` with the portable md5 hash family:
    identical pipeline shape (shingle -> per-permutation min -> band
    bucket self-join -> exact-Jaccard verify of candidates only), but
    every hash is SQL-recomputable, so the whole LSH path gets a real
    DuckDB oracle instead of a rows-only check. Shingles are 60-bit md5
    hashes (Jaccard over hashes == Jaccard over strings, minus a 2^-60
    collision caveat the oracle shares) and band buckets are the
    '|'-joined signature slice — equality semantics identical to
    hashing the slice.

    The xxhash64 family (minhash_near_duplicates) remains the 100 TB
    path: one JVM hash per element vs one md5 here. Permutations are the
    affine family over the 60-bit base hash (``minhash_affine_coeffs``) —
    num_perm integer mixes instead of num_perm md5 calls — and all set
    math (signature mins, band buckets, Jaccard verify) runs on longs
    via ``portable_shingle_hashes``: no distinct shuffle, no string
    arrays.
    """
    based = portable_shingle_hashes(documents, id_col, text_col, n).withColumn(
        "_hp", F.col("_h60") % _MH_PRIME
    )
    # ONE aggregation pass produces BOTH the signature mins and the
    # verify sets: the exploded shingle stream (the expensive part —
    # gram construction + md5 over ~300x the doc count) is scanned once,
    # and what gets persisted is the doc-count-sized aggregate (64 longs
    # + one hash array per doc), not the exploded rows
    sigs = _persist_scoped(
        based.groupBy(id_col).agg(
            *_affine_min_aggs(num_perm),
            F.collect_list("_h60").alias("_sh"),
        )
    )
    return portable_lsh_pairs_from_sigs(sigs, id_col, num_perm, bands, threshold)


def portable_lsh_pairs_from_sigs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.4,
) -> DataFrame:
    """Band -> candidate -> exact-Jaccard-verify tail of the portable
    MinHash pipeline, over a precomputed signature aggregate carrying the
    ``h0..h{num_perm-1}`` affine mins and the ``_sh`` hashed shingle set
    per id. Factored out (r15) so composite queries that need BOTH the
    LSH pairs and another consumer of the same substrate (e.g. the
    recall audit's exact ground truth) build the signature pass once."""
    rows = num_perm // bands
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "|", *[F.col(f"h{b * rows + r}").cast("string") for r in range(rows)]
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    a = banded.select(F.col(id_col).alias("doc_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("doc_b"), "band", "bucket")
    cands = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sigs.select(F.col(id_col).alias("doc_a"), F.col("_sh").alias("_sh_a"))
    sb = sigs.select(F.col(id_col).alias("doc_b"), F.col("_sh").alias("_sh_b"))
    joined = (
        _pin_width(cands, "doc_a").join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_sh_a", "_sh_b")).alias("common"),
            F.size("_sh_a").alias("size_a"),
            F.size("_sh_b").alias("size_b"),
        )
    )
    return (
        joined.withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("size_a") + F.col("size_b") - F.col("common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_band_index(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    portable: bool = False,
) -> DataFrame:
    """(band, bucket, id) LSH index rows for a document set — the
    persistable state of incremental near-dup dedup. At scale this lands
    in a table bucketed on (band, bucket) so each incoming batch probes it
    shuffle-free.

    ``portable=True`` switches the hash family to md5 (string shingles,
    one ``portable_hash60`` base hash + affine permutation mixes,
    '|'-joined string buckets) so the index is SQL-recomputable; the
    default xxhash64 family shuffles 8-byte keys and is the 100 TB
    path."""
    rows = num_perm // bands
    if portable:
        pairs = portable_shingle_hashes(documents, id_col, text_col, n).withColumn(
            "_hp", F.col("_h60") % _MH_PRIME
        )
        mins = _affine_min_aggs(num_perm)
        buckets = [
            F.concat_ws(
                "|", *[F.col(f"h{b * rows + r}").cast("string") for r in range(rows)]
            )
            for b in range(bands)
        ]
    else:
        pairs = shingle_pairs(documents, id_col, text_col, n)
        mins = [
            F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
            for i in range(num_perm)
        ]
        buckets = None
    sigs = pairs.groupBy(id_col).agg(*mins)
    if buckets is None:
        sigs = sigs.select(
            id_col,
            F.array(*[F.col(f"h{i}") for i in range(num_perm)]).alias("signature"),
        )
        buckets = [
            F.xxhash64(*[F.col("signature")[b * rows + r] for r in range(rows)])
            for b in range(bands)
        ]
    return sigs.select(
        F.col(id_col),
        F.posexplode(F.array(*buckets)).alias("band", "bucket"),
    ).select("band", "bucket", id_col)


def dedup_incremental_neardup(
    new_docs: DataFrame,
    band_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    portable: bool = False,
    batch_index: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental NEAR-dup dedup for an append-only corpus: returns
    (novel_rows, updated_band_index).

    ``batch_index`` (r15): a precomputed ``minhash_band_index`` of
    ``new_docs`` — callers that already hold one (e.g. a combined
    corpus+batch signature pass split by id parity) pass it here so the
    batch's tokenize+hash pass is never re-run; the caller owns its
    lifetime. Without it the index is built here and persist-scoped.

    A new doc is dropped if any of its LSH band buckets already exists in
    the index (it near-duplicates an indexed doc at the (bands, rows)
    operating point), or if it collides with an earlier doc in the same
    batch (kept: the min id per colliding group, resolved transitively via
    connected components over intra-batch collisions so 'b dups a, c dups
    b' keeps only a).

    Cost per batch: signature pass over the BATCH only + an equi-join
    against the index on (band, bucket) — the corpus-sized index is never
    re-scanned beyond that join (bucketed storage makes it shuffle-free).
    Like LSH candidate generation everywhere, this trades a false-positive rate (tunable via bands x rows) for never
    doing exact verification against corpus text.
    """
    if batch_index is not None:
        batch_idx = batch_index
    else:
        # persist-scoped, NOT persist+unpersist-on-return (r15 defect
        # fix): the old eager unpersist dropped the cache BEFORE the
        # returned lazy plans ever executed, so the batch signature pass
        # (the dominant md5 map cost) recomputed once per consuming
        # branch — profile showed four full-width signature stages in
        # one dedup_incremental_neardup_batch run. The scoped pool keeps
        # the entry live until the NEXT top-level query build.
        batch_idx = _persist_scoped(
            minhash_band_index(
                new_docs, id_col, text_col, n, num_perm, bands, portable=portable
            )
        )
    # vs the existing corpus: any shared (band, bucket) -> near-dup
    hit_ids = (
        batch_idx.join(
            band_index.select("band", "bucket").distinct(), ["band", "bucket"], "inner"
        )
        .select(id_col)
        .distinct()
    )
    survivors = batch_idx.join(hit_ids, id_col, "left_anti")
    # intra-batch: docs sharing a bucket among survivors collide; keep the
    # transitive min id per component
    a = survivors.select(F.col(id_col).alias("doc_a"), "band", "bucket")
    b = survivors.select(F.col(id_col).alias("doc_b"), "band", "bucket")
    collisions = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    cc = connected_components(collisions)
    drop = cc.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    novel_ids = survivors.select(id_col).distinct().join(drop, id_col, "left_anti")
    novel = new_docs.join(novel_ids, id_col, "inner")
    updated = band_index.unionByName(
        batch_idx.join(novel_ids, id_col, "inner").select("band", "bucket", id_col)
    )
    return novel, updated


def simhash(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn=None,
) -> DataFrame:
    """63-bit SimHash per document (bit 63 left clear so the value stays a
    non-negative BIGINT under ANSI arithmetic).

    tokens -> token hash -> per-bit +/-1 votes weighted by term frequency
    -> sign -> packed bits. One explode + one aggregate; all built-ins.

    ``hash_fn`` maps the token column to a BIGINT hash; defaults to the
    JVM ``xxhash64`` (the scale path). Pass ``portable_hash60`` to make
    the signature SQL-recomputable for the oracle harness (its 60-bit
    range leaves bits 60-62 constantly clear — harmless, identically so
    on both engines).
    """
    if hash_fn is None:
        hash_fn = F.xxhash64
    # spread() first (r14): the explode + token hash + 63 partial vote
    # sums otherwise all run inside a 1-task scan stage
    toks = spread(documents, id_col).select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    )
    counted = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    hashed = counted.withColumn("h", hash_fn(F.col("tok")))
    votes = [
        F.sum(
            # branchless ±tf (r15): tf * (2*bit - 1) is the same exact
            # integer as the when(bit==1, tf, -tf) form without a branch
            # per (row, bit) — 63 of these run per row
            F.col("tf")
            * (
                F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * F.lit(2)
                - F.lit(1)
            )
        ).alias(f"v{j}")
        for j in range(63)
    ]
    per_doc = hashed.groupBy(id_col).agg(*votes)
    packed = per_doc.select(
        id_col,
        F.aggregate(
            F.array(
                *[
                    F.when(F.col(f"v{j}") >= 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(
                        F.lit(0).cast("long")
                    )
                    for j in range(63)
                ]
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc.bitwiseOR(x),
        ).alias("simhash"),
    )
    return packed


def simhash_near_duplicates(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_blocks: int | None = None,
    hash_fn=None,
    key_blocks: int = 1,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance <= ``max_hamming``,
    with FULL recall at that radius.

    Blocking derives from the radius: the 63-bit simhash is split into
    ``n_blocks`` (default ``max_hamming + 1``) near-equal bit blocks, and
    candidates must share one exact block key. Pigeonhole: at most
    ``max_hamming`` blocks can contain a differing bit, so any pair
    within the radius agrees on at least ``n_blocks - max_hamming``
    blocks — the multi-block scheme of Manku et al., "Detecting
    Near-Duplicates for Web Crawling" (WWW'07). radius 8 -> 9 blocks of
    7 bits (63 = 9*7).

    ``key_blocks`` widens the join key for huge corpora: candidates must
    share ALL blocks of one of the C(n_blocks, key_blocks) block
    COMBINATIONS (Manku's permuted-table refinement). Full recall needs
    ``key_blocks <= n_blocks - max_hamming``: the >= n_blocks -
    max_hamming agreeing blocks then contain at least one enumerated
    combination in full. The tradeoff is explode fan-out C(m, k) rows
    per doc vs key width k * (63/m) bits — e.g. radius 8 with the
    single-block default means 9 rows/doc on 7-bit keys (~2^7 bucket
    values: heavy collisions at billions of docs), while m=10, k=2
    means 45 rows/doc on ~12.6-bit keys, cutting bucket collision mass
    by ~50x. Combination keys are xxhash64 of the member block values —
    the bucket key never reaches the output, so full recall makes the
    result independent of the key hash (only ``hash_fn``, the token
    hash, must be portable for oracle checking).
    """
    n_blocks = _validate_hamming_blocks(max_hamming, n_blocks, key_blocks, 63)
    sh = simhash(documents, id_col, text_col, hash_fn=hash_fn)
    return hamming_block_pairs(
        sh,
        id_col=id_col,
        sig_col="simhash",
        max_hamming=max_hamming,
        n_blocks=n_blocks,
        key_blocks=key_blocks,
        total_bits=63,
    )


def _validate_hamming_blocks(
    max_hamming: int, n_blocks: int | None, key_blocks: int, total_bits: int
) -> int:
    """Shared parameter guard for the pigeonhole block join; returns the
    resolved block count. Raises BEFORE any signature computation so
    callers fail fast on recall-breaking configurations."""
    if max_hamming < 0 or max_hamming > 32:
        raise ValueError(f"max_hamming must be in [0, 32], got {max_hamming}")
    if n_blocks is None:
        n_blocks = max_hamming + key_blocks
    if key_blocks < 1:
        raise ValueError(f"key_blocks must be >= 1, got {key_blocks}")
    if key_blocks > n_blocks - max_hamming:
        raise ValueError(
            f"key_blocks={key_blocks} > n_blocks-max_hamming="
            f"{n_blocks - max_hamming} breaks the pigeonhole recall guarantee"
        )
    if n_blocks > total_bits:
        # more blocks than bits would create zero-width blocks whose mask
        # is 0 — every doc shares chunk value 0 and the equi-join silently
        # degenerates into an all-pairs cross join
        raise ValueError(f"n_blocks={n_blocks} > {total_bits} total bits")
    return n_blocks


def hamming_block_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_hamming: int = 3,
    n_blocks: int | None = None,
    key_blocks: int = 1,
    total_bits: int = 63,
) -> DataFrame:
    """All id pairs whose ``sig_col`` bit signatures are within Hamming
    distance ``max_hamming`` — FULL recall via the Manku pigeonhole block
    join (see :func:`simhash_near_duplicates` for the scheme). Factored
    out so any 64-bit-or-narrower signature family (SimHash, image
    aHash/dHash perceptual hashes) shares one candidate-generation plan:
    split ``total_bits`` into ``n_blocks`` near-equal blocks, equi-join on
    block (or C(m,k)-combination) keys, verify with ``bit_count(xor)``.
    Signatures must occupy the LOW ``total_bits`` bits (sign bit unused
    when total_bits <= 63, so ``shiftright`` is safe)."""
    n_blocks = _validate_hamming_blocks(max_hamming, n_blocks, key_blocks, total_bits)
    base, rem = divmod(total_bits, n_blocks)
    widths = [base + 1 if i < rem else base for i in range(n_blocks)]
    offsets, off = [], 0
    for w_ in widths:
        offsets.append(off)
        off += w_
    block_vals = [
        F.shiftright(F.col(sig_col), offsets[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1)
        )
        for i in range(n_blocks)
    ]
    if key_blocks == 1:
        keys = block_vals
    else:
        import itertools

        keys = [
            F.xxhash64(*[block_vals[i] for i in combo])
            for combo in itertools.combinations(range(n_blocks), key_blocks)
        ]
    chunks = sigs.select(
        F.col(id_col),
        sig_col,
        F.posexplode(F.array(*keys)).alias("chunk_id", "chunk"),
    )
    a = chunks.select(
        F.col(id_col).alias("doc_a"), F.col(sig_col).alias("sh_a"), "chunk_id", "chunk"
    )
    b = chunks.select(
        F.col(id_col).alias("doc_b"), F.col(sig_col).alias("sh_b"), "chunk_id", "chunk"
    )
    # r14 (guide §2.3/§2.5): verify BEFORE the distinct — bit_count is a
    # per-row expression while distinct is a shuffle, so filtering first
    # shuffles only true-positive pairs instead of every block-collision
    # candidate (hamming is a function of the pair: same distinct set).
    # The block join's shuffle width is pinned: its BYTES are tiny but
    # its per-bucket fan-out is the real work — AQE's bytes-based
    # coalescing serialized the whole candidate generation into 1 task.
    a = a.repartition(
        sigs.sparkSession.sparkContext.defaultParallelism, "chunk_id", "chunk"
    )
    return (
        a.join(b, ["chunk_id", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Cluster near-duplicate pairs into components: (node, cluster_id)
    where cluster_id is the component's minimum node id.

    Min-label propagation (``iterate.fixpoint``): each round every node
    takes the min label among itself and its neighbors (one shuffle join
    + one hash aggregate), so rounds ~ graph diameter; near-dup
    components are shallow. Raises RuntimeError when ``max_iter`` rounds
    end before the fixpoint, instead of returning partial labels.
    Input pairs are normalized (least/greatest + distinct) BEFORE the
    bidirectional union, so duplicate or reversed input pairs cost one
    half-size distinct, not a double-size one. Long chains belong to
    ``connected_components_star``.
    """
    a, b = F.col(a_col), F.col(b_col)
    # checkpoint BEFORE the bidirectional union: the union references the
    # upstream pairs plan twice, and without truncation the (often
    # expensive) pair-generation join would execute twice in one job
    uniq = (
        pairs.select(
            F.least(a, b).alias("u"), F.greatest(a, b).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    edges = uniq.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
        uniq.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )

    def step(labels: DataFrame, _r: int) -> DataFrame:
        nbr = edges.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "label")
        return labels.union(nbr).groupBy("node").agg(F.min("label").alias("label"))

    labels0 = edges.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").alias("label")
    )
    labels, converged = fixpoint(labels0, step, max_iter)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} rounds"
        )
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): (node, cluster_id=component min), identical
    contract to ``connected_components``.

    Why a second algorithm: min-label propagation needs rounds ~ graph
    DIAMETER — fine for shallow near-dup clusters, quadratic pain on
    long chains (a 10^6-node path needs 10^6 rounds). Star contraction
    converges in O(log^2 n) rounds on ANY topology:

    - large-star: every node links its LARGER neighbors to the minimum
      of its closed neighborhood (one groupBy-min + one join back);
    - small-star: edges oriented large->small; every node links its
      smaller neighbors AND itself to that minimum.

    Both phases are a hash-aggregate plus an equi-join on the node id —
    the same shuffle shape as a min-label round, just fewer rounds.
    The edge set is checked every SECOND round (``iterate.fixpoint``
    with ``check_every=2``): every non-fixpoint round strictly lowers
    the Kiveris potential and so changes the set, hence a set unchanged
    across two rounds is a fixpoint. Raises RuntimeError when
    ``max_iter`` rounds end before it: an unconverged edge set is not a
    star forest, so its labels would be wrong.
    At convergence edges form stars root<-node, which IS the label map.
    """
    a, b = F.col(a_col), F.col(b_col)
    edges0 = (
        pairs.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def step(edges: DataFrame, _r: int) -> DataFrame:
        # large-star: closed-neighborhood min over BOTH directions
        bi = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        lmins = bi.groupBy("u").agg(F.min("v").alias("_m"))
        lmins = lmins.select("u", F.least("u", "_m").alias("m"))
        large = (
            bi.join(lmins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient large->small, link all smaller neighbors
        # and the center itself to the neighborhood min
        d = large.select(
            F.greatest("u", "v").alias("c"), F.least("u", "v").alias("n")
        )
        smins = d.groupBy("c").agg(F.min("n").alias("m"))
        return (
            d.join(smins, "c")
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .union(smins.select(F.col("c").alias("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
        )

    # isolated "components" never enter pairs; callers join labels back
    # (same contract as connected_components)
    edges, converged = fixpoint(edges0, step, max_iter, check_every=2)
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge within {max_iter} rounds"
        )
    # converged edge set is a union of stars (node -> component min)
    roots = edges.select(F.col("v").alias("node")).distinct().select(
        "node", F.col("node").alias("cluster_id")
    )
    return (
        edges.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
        .union(roots)
        .distinct()
    )


def dedup_keep_canonical(
    documents: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup-aware corpus reduction: keep one canonical doc (the min id)
    per duplicate cluster plus every unpaired doc.

    The cluster map ``cc`` has one row per document that appears in ANY
    near-dup pair. At web scale 30-50% of a corpus can be near-duplicates,
    so the map grows WITH the corpus — a forced ``F.broadcast(cc)`` would
    become a driver/executor OOM exactly when the operator matters most.
    No hint here: AQE still broadcasts when the map is genuinely under the
    autoBroadcastJoinThreshold, and degrades gracefully to a shuffled join
    when it is not (plan-audited in tests/test_scale_paths.py)."""
    cc = connected_components(pairs)
    return (
        documents.join(cc.withColumnRenamed("node", id_col), id_col, "left")
        .filter(
            F.col("cluster_id").isNull() | (F.col(id_col) == F.col("cluster_id"))
        )
        .drop("cluster_id")
    )


def bloom_contamination(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    k: int = 4,
    bits: int = 15,
) -> DataFrame:
    """Bloom-filter variant of ``contamination_check``: instead of
    broadcasting the eval set's DISTINCT GRAMS (which grows with the
    eval corpus — strings, unbounded), broadcast only the <= m = 2^bits
    distinct BIT POSITIONS its grams set (k positions per gram). At
    100 TB the filter is a fixed m-row / m-bit structure (2^15
    positions = 4 KB of actual bits) no matter how many eval docs exist
    — the standard trade: a gram is flagged when ALL k of its positions
    are set, so false POSITIVES are possible (rate ~(1 - e^(-kN/m))^k)
    but false negatives are not; a Bloom pass can only over-flag, never
    leak.

    The k positions are DISJOINT bit-slices of ONE 60-bit portable hash
    (Kirsch-Mitzenmacher-style derived hashing: one md5 per gram, k
    shifts) — measured 4x cheaper than k salted md5 calls with the same
    independence in practice; k * bits must fit the 60-bit hash. The
    membership test stays relational: corpus grams posexplode their k
    positions, semi-join the position table, and a (doc, gram) count
    == k marks a hit — no bitmap UDF, every step SQL-recomputable.
    Returns (id, n_grams, n_bloom_hits, flagged)."""
    if k * bits > 60:
        raise ValueError(f"k*bits = {k * bits} exceeds the 60-bit hash")
    m = 1 << bits

    def positions(gram_col):
        h = portable_hash60(gram_col)
        return F.array(*[F.shiftright(h, i * bits) % m for i in range(k)])

    # spread both explodes: k md5s per gram is the map cost and must not
    # run in a 1-task scan stage (the corpus side keys on id so the
    # per-doc aggregates below reuse the partitioning)
    eval_bits = (
        spread(eval_docs).select(F.explode(word_shingles(text_col, n)).alias("_g"))
        .select(F.explode(positions(F.col("_g"))).alias("pos"))
        .distinct()
    )
    # persisted: corpus_grams feeds BOTH the per-doc count and the probe
    # join — without the cache the gram build + hashing (the dominant map
    # cost) executes twice
    corpus_grams = _persist_scoped(
        spread(corpus, id_col).select(
            F.col(id_col), F.explode(word_shingles(text_col, n)).alias("_g")
        )
    )
    per_doc = corpus_grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    probed = corpus_grams.select(
        id_col, "_g", F.posexplode(positions(F.col("_g"))).alias("_d", "pos")
    )
    gram_hits = (
        probed.join(F.broadcast(eval_bits), "pos", "inner")
        .groupBy(id_col, "_g")
        .agg(F.count(F.lit(1)).alias("_nset"))
        .filter(F.col("_nset") == k)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bloom_hits"))
    )
    return (
        per_doc.join(gram_hits, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce(F.col("n_bloom_hits"), F.lit(0)).cast("long").alias("n_bloom_hits"),
            (F.coalesce(F.col("n_bloom_hits"), F.lit(0)) > 0).alias("flagged"),
        )
    )


def ppjoin_near_duplicates(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.4,
    hashed: bool = True,
) -> DataFrame:
    """Exact set-similarity join via PREFIX FILTERING (AllPairs/PPJoin,
    Bayardo et al. WWW'07): a lossless alternative to the shared-shingle
    candidate join — if J(A,B) >= t, then under any fixed global token
    ordering A and B must share a token within their first
    |s| - ceil(t*|s|) + 1 tokens, so candidates come from joining only
    those short prefixes. Ordering by ascending document frequency puts
    the RAREST tokens in the prefix, which is what collapses the
    candidate space (the frequent tokens that drive the shared-shingle
    join's fan-out never generate candidates here).

    No df-cut and no approximation: the output is exact full-set Jaccard
    at ``threshold``, same contract/columns as ``jaccard_near_duplicates``
    with ``max_shingle_freq=None``. Plan shape: shingle table (persisted;
    feeds sizes/df/rank/verify), df agg, per-doc rank window, prefix
    self-join, then the verify join materializes candidate x set-size
    intersection rows — the classic PPJoin verify cost, bounded by the
    prefix join's selectivity rather than shingle df^2.

    ``hashed=True`` (default) runs every join/agg on xxhash64 gram keys —
    8 bytes instead of ~25-byte strings, the same collision-accepting
    convention as ``jaccard_near_duplicates`` (see shingle_pairs). Any
    fixed global order is lossless for prefix filtering, so ordering by
    (df, hash) instead of (df, string) changes candidates, never results.
    """
    from pyspark.sql import Window

    sh = _persist_scoped(
        shingle_pairs(documents, id_col, text_col, n, None, hashed=hashed)
    )
    # ONE doc-level aggregate yields both sizes (for the filters) and the
    # verify sets: array_intersect over two bounded per-doc arrays
    # replaces the exploded three-way verify join + its groupBy — the
    # same restructure that bought minhash_near_duplicates ~1.5x
    sets = _persist_scoped(
        sh.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("sz"),
            F.collect_list("shingle").alias("_set"),
        )
    )
    sizes = sets.select(id_col, "sz")
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy(id_col).orderBy("_df", "shingle")
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn("_rk", F.row_number().over(w))
        .join(sizes, id_col)
        .filter(
            F.col("_rk")
            <= F.col("sz") - F.ceil(F.lit(float(threshold)) * F.col("sz")) + 1
        )
        .select(id_col, "shingle", "_rk", "sz")
    )
    # PPJoin's two lossless per-match prunes, applied BEFORE the distinct:
    # - length filter: J >= t forces min(sa,sb) >= t * max(sa,sb)
    # - positional filter: a match at prefix positions (pa, pb) caps the
    #   achievable overlap at 1 + min(sa-pa, sb-pb), which must reach the
    #   equivalent overlap bound alpha = ceil(t/(1+t) * (sa+sb))
    t_lit = F.lit(float(threshold))
    alpha = F.ceil(t_lit / (1.0 + float(threshold)) * (F.col("sa") + F.col("sb")))
    cand = (
        ranked.select(
            F.col(id_col).alias("doc_a"), "shingle",
            F.col("_rk").alias("pa"), F.col("sz").alias("sa"),
        )
        .join(
            ranked.select(
                F.col(id_col).alias("doc_b"), "shingle",
                F.col("_rk").alias("pb"), F.col("sz").alias("sb"),
            ),
            "shingle",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.least("sa", "sb") >= F.ceil(t_lit * F.greatest("sa", "sb"))
        )
        .filter(
            1
            + F.least(F.col("sa") - F.col("pa"), F.col("sb") - F.col("pb"))
            >= alpha
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    out = (
        _pin_width(cand, "doc_a").join(
            sets.select(
                F.col(id_col).alias("doc_a"),
                F.col("sz").alias("size_a"),
                F.col("_set").alias("_set_a"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col(id_col).alias("doc_b"),
                F.col("sz").alias("size_b"),
                F.col("_set").alias("_set_b"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_set_a", "_set_b")).cast("long").alias("common"),
            "size_a",
            "size_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("size_a") + F.col("size_b") - F.col("common")).cast(
                    "double"
                ),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "size_a", "size_b", "jaccard")
    )
    return out


def fuzzy_decontaminate_portable(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.4,
) -> DataFrame:
    """MinHash/LSH FUZZY decontamination: flag corpus docs NEAR-duplicate
    to any eval/benchmark doc (exact-gram decontamination misses light
    paraphrases; this is the standard next screen — the same
    candidates->verify LSH shape as near-dup dedup, but joining corpus
    band buckets against the EVAL side's instead of self-joining).

    Returns verified (corpus id, eval id, jaccard >= threshold) pairs.
    Portable md5 family throughout, so the whole path is
    oracle-checkable (queries.ORACLE_FUZZY_DECON); the xxhash64 twin of
    this screen is ``minhash_band_index`` + ``dedup_incremental_neardup``
    probing. Scale: the band join is bounded by the EVAL side (thousands
    of docs), so candidates ~ collisions against a small index — never
    corpus x corpus.
    """
    rows = num_perm // bands

    def sigs_of(docs: DataFrame) -> DataFrame:
        based = portable_shingle_hashes(docs, id_col, text_col, n).withColumn(
            "_hp", F.col("_h60") % _MH_PRIME
        )
        return _persist_scoped(
            based.groupBy(id_col).agg(
                *_affine_min_aggs(num_perm),
                F.collect_list("_h60").alias("_sh"),
            )
        )

    def bands_of(sigs: DataFrame) -> DataFrame:
        return sigs.select(
            F.col(id_col),
            F.posexplode(
                F.array(
                    *[
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"h{b * rows + r}").cast("string")
                                for r in range(rows)
                            ],
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band", "bucket"),
        )

    csigs, esigs = sigs_of(corpus), sigs_of(eval_docs)
    cands = (
        bands_of(csigs)
        .select(F.col(id_col).alias("corpus_doc"), "band", "bucket")
        .join(
            bands_of(esigs).select(
                F.col(id_col).alias("eval_doc"), "band", "bucket"
            ),
            ["band", "bucket"],
        )
        .select("corpus_doc", "eval_doc")
        .distinct()
    )
    joined = (
        _pin_width(cands, "corpus_doc").join(
            csigs.select(F.col(id_col).alias("corpus_doc"), F.col("_sh").alias("_sh_a")),
            "corpus_doc",
        )
        .join(
            esigs.select(F.col(id_col).alias("eval_doc"), F.col("_sh").alias("_sh_b")),
            "eval_doc",
        )
        .select(
            "corpus_doc",
            "eval_doc",
            F.size(F.array_intersect("_sh_a", "_sh_b")).alias("common"),
            F.size("_sh_a").alias("size_a"),
            F.size("_sh_b").alias("size_b"),
        )
    )
    return (
        joined.withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("size_a") + F.col("size_b") - F.col("common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("corpus_doc", "eval_doc", "jaccard")
    )


def passjoin_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 1,
) -> DataFrame:
    """All id pairs with Levenshtein edit distance <= ``max_dist`` — FULL
    recall via the PassJoin segment scheme (Li, Deng & Feng, "PASS-JOIN:
    a partition-based method for similarity joins", VLDB'11, public):

    partition the SHORTER string of any within-distance pair into
    ``d+1`` contiguous segments; pigeonhole over an optimal alignment
    says at least one segment survives every edit untouched and appears
    EXACTLY in the longer string, start-shifted by at most ``d`` (each
    indel shifts the alignment by one). So: every string INDEXES its own
    ``d+1`` segments under key ``(len, seg_i, seg_value)``, and PROBES
    with every substring that could match a segment of a same-or-shorter
    string (lengths ``len-d .. len``, all ``d+1`` segment slots, start
    offsets ``-d .. +d``) — a STATIC ``(d+1)^2 * (2d+1)`` expression
    fan-out per row (12 at d=1, 45 at d=2), all JVM-side ``substr``
    columns, no Python. Candidates meet in one equi-join on the composite
    key (selective: segment values carry ~len/(d+1) chars, far sharper
    than q-gram blocking on short strings), then verify with the built-in
    ``levenshtein``. Strings too short to partition (len <= d) are a
    broadcast residual cross-checked against everything — full recall
    with no uncapped self-join anywhere.

    vs the q-gram count-filter family: on short small-vocabulary strings
    (catalog titles, names) q-gram df explodes and the count bound goes
    slack; PassJoin's keys stay selective because they are position- and
    length-qualified. The reference has no string-similarity join at all
    — §2.11 training-data extension surface.

    DEDUPE-FIRST (the multiplicity defense): the segment join runs over
    DISTINCT texts only — k copies of one hot string contribute ONE row
    to candidate generation instead of k^2 join rows × the key fan-out.
    Class pairs expand back to id pairs through two member equi-joins
    (plus a within-class self-join for the distance-0 pairs), so the
    only quadratic cost left is the OUTPUT itself — which is genuine
    duplicate mass the caller asked for. Measured at sf0.1 (20k parts,
    64 distinct names, 3.9M true pairs): 92 s naive -> the expansion
    joins dominate and candidate generation is 64 rows."""
    d = max_dist
    if d < 0:
        raise ValueError(f"max_dist must be >= 0, got {d}")
    members = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"))
        .filter(F.col("_txt").isNotNull())
    )
    base = (
        members.groupBy("_txt")
        .agg(F.min("_id").alias("_id"))
        .withColumn("_len", F.length("_txt").cast("int"))
    )
    ok = base.filter(F.col("_len") >= d + 1)

    def seg_geom(l_col, i: int):
        # even (d+1)-way partition of a length-l string: first (l % (d+1))
        # segments get the extra char; 1-based start of segment i
        b = F.floor(l_col / (d + 1)).cast("int")
        r = (l_col % (d + 1)).cast("int")
        w = (b + F.when(F.lit(i) < r, 1).otherwise(0)).cast("int")
        p = (F.lit(i) * b + F.least(F.lit(i), r) + 1).cast("int")
        return w, p

    def key_struct(l_col, i: int, start, width):
        return F.struct(
            l_col.cast("int").alias("l"),
            F.lit(i).cast("int").alias("i"),
            F.col("_txt").substr(start, width).alias("seg"),
        )

    idx_keys = []
    for i in range(d + 1):
        w, p = seg_geom(F.col("_len"), i)
        idx_keys.append(F.when(w >= 1, key_struct(F.col("_len"), i, p, w)))
    idx = ok.select(
        F.col("_id").alias("_id_s"),
        F.explode(F.array_compact(F.array(*idx_keys))).alias("k"),
    ).dropDuplicates(["_id_s", "k"])

    probe_keys = []
    for dl in range(d + 1):
        l_col = F.col("_len") - dl
        for i in range(d + 1):
            w, p = seg_geom(l_col, i)
            for off in range(-d, d + 1):
                q = p + off
                cond = (
                    (l_col >= d + 1)
                    & (w >= 1)
                    & (q >= 1)
                    & (q + w - 1 <= F.col("_len"))
                )
                probe_keys.append(F.when(cond, key_struct(l_col, i, q, w)))
    probe = ok.select(
        F.col("_id").alias("_id_r"),
        F.explode(F.array_compact(F.array(*probe_keys))).alias("k"),
    ).dropDuplicates(["_id_r", "k"])

    cand = (
        probe.join(idx, "k")
        .filter(F.col("_id_r") != F.col("_id_s"))
        .select(
            F.least("_id_r", "_id_s").alias("_a"),
            F.greatest("_id_r", "_id_s").alias("_b"),
        )
        .distinct()
    )
    a_side = base.select(
        F.col("_id").alias("_a"), F.col("_txt").alias("_ta"), F.col("_len").alias("_la")
    )
    b_side = base.select(
        F.col("_id").alias("_b"), F.col("_txt").alias("_tb"), F.col("_len").alias("_lb")
    )
    verified = (
        cand.join(a_side, "_a")
        .join(b_side, "_b")
        .filter(F.abs(F.col("_la") - F.col("_lb")) <= d)
        .withColumn("dist", F.levenshtein("_ta", "_tb"))
        .filter(F.col("dist") <= d)
        .select("_a", "_b", "dist")
    )
    # residual: strings with len <= d cannot be partitioned into d+1
    # non-empty segments. They are within distance d of ANY string whose
    # length is <= 2d, so brute-verify them against the length band —
    # bounded broadcast (at most the tiny len<=d slice of the corpus)
    residual = base.filter(F.col("_len") <= d).select(
        F.col("_id").alias("_ra"), F.col("_txt").alias("_rta")
    )
    res_pairs = (
        F.broadcast(residual)
        .crossJoin(base.filter(F.col("_len") <= 2 * d))
        .filter(F.col("_ra") != F.col("_id"))
        .withColumn("dist", F.levenshtein("_rta", "_txt"))
        .filter(F.col("dist") <= d)
        .select(
            F.least("_ra", "_id").alias("_a"),
            F.greatest("_ra", "_id").alias("_b"),
            "dist",
        )
    )
    class_pairs = verified.unionByName(res_pairs).dropDuplicates(["_a", "_b"])
    # expand class pairs back to id pairs: two member equi-joins (the
    # output-sized step — genuine pair mass, not join waste)
    cls_members = members.join(
        base.select("_txt", F.col("_id").alias("_cid")), "_txt"
    ).select("_cid", "_id")
    ma = cls_members.select(F.col("_cid").alias("_a"), F.col("_id").alias("_ia"))
    mb = cls_members.select(F.col("_cid").alias("_b"), F.col("_id").alias("_ib"))
    cross = class_pairs.join(ma, "_a").join(mb, "_b").select(
        F.least("_ia", "_ib").alias("doc_a"),
        F.greatest("_ia", "_ib").alias("doc_b"),
        "dist",
    )
    within = (
        cls_members.alias("x")
        .join(cls_members.alias("y"), "_cid")
        .filter(F.col("x._id") < F.col("y._id"))
        .select(
            F.col("x._id").alias("doc_a"),
            F.col("y._id").alias("doc_b"),
            F.lit(0).alias("dist"),
        )
    )
    return cross.unionByName(within)
