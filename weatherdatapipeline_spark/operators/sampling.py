"""Dataset sampling / splitting operators for training-data pipelines.

The splits a training pipeline needs must be DETERMINISTIC (re-runs and
backfills land every row in the same split), PORTABLE (any engine can
recompute the assignment for audits), and PARTITION-INDEPENDENT (adding
executors or resharding the input must not move rows between splits).
Spark's ``randomSplit`` fails all three — it samples per-partition with a
seeded RNG, so the assignment changes with the physical layout.

The primitive here is an md5 hash bucket of the row's stable id: pure
column expressions (JVM-side, whole-stage codegen), no RNG, no state, no
shuffle — a 100 TB split is a metadata-free map-only pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKETS = 10_000


def hash_bucket(id_col: str | Column, buckets: int = BUCKETS) -> Column:
    """Uniform bucket in [0, buckets) from md5 of the id rendered as a
    string. The first 8 hex chars (32 bits) are unbiased for any
    ``buckets`` << 2^32. Portable: DuckDB spells the same expression
    ``('0x' || substr(md5(id::VARCHAR), 1, 8))::BIGINT % buckets``."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % buckets
    )


def split_assign(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    buckets: int = BUCKETS,
    out_col: str = "split",
) -> DataFrame:
    """Add a deterministic split label ('train'/'val'/'test'/...) chosen by
    hash bucket against cumulative fraction thresholds. Fractions must sum
    to 1 (the last split absorbs rounding)."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    bucket = hash_bucket(id_col, buckets)
    expr = None
    cum = 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        cond = bucket < int(round(cum * buckets))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(out_col, expr)


def mixture_weighted_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    keep_fractions: dict[str, float],
    default_fraction: float = 0.0,
    buckets: int = BUCKETS,
) -> DataFrame:
    """Deterministic per-stratum downsampling — the corpus-mixture step of
    a training pipeline ("keep 30% of crawl, 100% of wiki"). Same hash
    primitive, so the kept set is stable across runs and engines; strata
    not listed keep ``default_fraction``."""
    bucket = hash_bucket(id_col, buckets)
    frac = None
    for value, keep in keep_fractions.items():
        cond = F.col(strata_col) == value
        frac = F.when(cond, keep) if frac is None else frac.when(cond, keep)
    frac = F.lit(default_fraction) if frac is None else frac.otherwise(default_fraction)
    return df.filter(bucket < (frac * buckets).cast("bigint"))


def sample_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Deterministic uniform sample of exactly ``min(k, |group|)`` rows
    per group: rank by md5 of the id within each group and keep the first
    ``k``. The md5 ordering is uniform-random over ids yet stable across
    runs, engines, and physical layout — the audit-friendly version of
    "give me 1000 random docs per source". One shuffle on the group key;
    rank + filter, never a global sort. (For per-group k in the millions
    prefer fraction-based ``mixture_weighted_sample`` — exact-k ranking
    funnels each group through one window task.)
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def temperature_mixture_weights(
    df: DataFrame,
    strata_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled corpus mixture weights (multilingual-LM
    standard, e.g. XLM-R): from per-stratum counts, compute
    ``p_i = n_i / N`` and sampling weight ``w_i ∝ p_i^alpha``
    (normalized). ``alpha < 1`` up-weights small strata (languages /
    sources) so the training mixture is less head-dominated than the raw
    corpus; ``alpha = 1`` is proportional, ``alpha = 0`` uniform.

    Two tiny aggregates over the per-stratum counts (the strata table is
    dims-sized) joined back via 1-row broadcasts — no single-partition
    window, no driver round-trip. Feed the resulting ``weight`` to
    ``mixture_weighted_sample`` as per-stratum keep fractions (scaled by
    the desired total) to materialize the mixture.
    """
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.select(F.sum("n_docs").alias("_total"))
    with_p = counts.crossJoin(F.broadcast(total)).withColumn(
        "p", F.col("n_docs") / F.col("_total")
    )
    zsum = with_p.select(
        F.sum(F.pow(F.col("p"), F.lit(float(alpha)))).alias("_z")
    )
    return (
        with_p.crossJoin(F.broadcast(zsum))
        .withColumn("weight", F.pow(F.col("p"), F.lit(float(alpha))) / F.col("_z"))
        .select(strata_col, "n_docs", "p", "weight")
    )


def token_budget_sample(
    df: DataFrame,
    budget: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic per-group sample sized by a TOKEN budget, not a doc
    count — how training mixtures are actually specified ("20B tokens of
    web, 5B of code"). Docs are ranked by md5(id) within the group (the
    same uniform-yet-reproducible order as ``sample_per_group``) and
    admitted while the tokens consumed BEFORE them are under ``budget``
    — so the doc that crosses the boundary is kept and every group with
    any data yields at least one doc.

    One shuffle on the group key; the running sum is a partitioned
    window (per-group, never global). Returns (id, group, n_tokens,
    cum_tokens_before).
    """
    from pyspark.sql import Window

    ranked = df.select(
        F.col(id_col),
        F.col(group_col),
        F.size(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ranked.withColumn(
            "cum_tokens_before",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long"),
        )
        .filter(F.col("cum_tokens_before") < budget)
        .select(id_col, group_col, F.col("n_tokens").cast("long").alias("n_tokens"), "cum_tokens_before")
    )


def dsir_features(text_col: str | Column) -> Column:
    """Hashed n-gram feature STRINGS of a document (unigrams + bigrams of
    the whitespace-lowercase token convention shared with chunking/text).
    Pure array expressions — no explode yet, no shuffle."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.split(F.lower(F.trim(c)), r"\s+")
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.when(n > 1, F.slice(toks, 2, n - 1)).otherwise(F.array()),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.concat(toks, bigrams)


def dsir_logratio_weights(
    documents: DataFrame,
    is_target: Column,
    buckets: int = 1024,
    smoothing: float = 0.01,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every RAW document
    by how much its hashed n-gram features look like the TARGET domain,
    log p_target(features) - log p_raw(features) under bag-of-hashed-
    n-gram models with add-k smoothing. High weight = raw doc that
    resembles the target; selection = top-k or Gumbel resampling on the
    weight.

    Distributed shape (corpus-scale safe):
    - ONE explode of unigram+bigram features -> ONE grouped count per
      hash bucket with a conditional target count folded in (single pass,
      map-side combined; output cardinality = ``buckets``, independent of
      corpus size);
    - totals via a 1-row aggregate cross-joined back (broadcast);
    - the ``buckets``-row weight table joins the exploded features
      (AQE broadcasts it), then one groupBy(doc) sum — the only
      corpus-sized shuffle.

    Feature hashing uses the portable md5 bucket (``hash_bucket``) so a
    SQL engine can recompute the whole pipeline for audits. Returns
    (id, n_features, weight); ties in downstream top-k selection must
    break on the id.
    """
    from .text import persist_scoped, spread

    # spread first: one md5 per unigram+bigram feature is the dominant
    # map cost and must not run inside a 1-task single-row-group scan.
    # persisted: feats feeds the bucket-count aggregate AND the per-doc
    # weight join — one feature-hash pass instead of two.
    feats = persist_scoped(
        spread(documents, id_col).select(
            F.col(id_col),
            is_target.cast("int").alias("tgt"),
            F.explode(dsir_features(text_col)).alias("feat"),
        ).select(id_col, "tgt", hash_bucket(F.col("feat"), buckets).alias("b"))
    )

    counts = feats.groupBy("b").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum("tgt").alias("n_tgt"),
    )
    totals = counts.agg(
        F.sum("n_raw").alias("t_raw"), F.sum("n_tgt").alias("t_tgt")
    )
    s, sb = float(smoothing), float(smoothing) * buckets
    weights = counts.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.log((F.col("n_tgt") + s) / (F.col("t_tgt") + sb))
            - F.log((F.col("n_raw") + s) / (F.col("t_raw") + sb))
        ).alias("w"),
    )
    return (
        feats.join(weights, "b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_features"),
            F.sum("w").alias("weight"),
        )
    )
