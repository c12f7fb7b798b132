"""Batch summary statistics — the reference's flagship artifact.

Reference ``load.py:93-113`` computes a per-batch stats document with 10+
separate eager pandas passes over the frame (count, nunique, mean, max,
min, value_counts, 6 band counts). Here the whole document is ONE
``agg(...)`` — a single scan, map-side partial aggregation, one shuffle of
pre-combined state (SURVEY.md A1-A9).

At 100 TB this is the difference between 10 full-data passes and one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .relational import banded_histogram

# The reference's temperature bands (load.py:105-112).
TEMPERATURE_BANDS: list[tuple[str, float | None, float | None]] = [
    ("very_cold", None, 0.0),
    ("cold", 0.0, 10.0),
    ("cool", 10.0, 20.0),
    ("moderate", 20.0, 30.0),
    ("warm", 30.0, 40.0),
    ("hot", 40.0, None),
]


def batch_statistics(weather: DataFrame, group_by: list[str] | None = None) -> DataFrame:
    """A1-A9 in one aggregate.

    ``group_by=None`` reproduces the reference exactly (one summary row per
    batch — callers group by batch_id).
    """
    aggs = [
        F.count(F.lit(1)).alias("total_records"),  # A1
        F.countDistinct("city").alias("cities_count"),  # A2
        F.avg("temperature").alias("avg_temperature"),  # A3
        F.max("temperature").alias("max_temperature"),  # A4
        F.min("temperature").alias("min_temperature"),  # A4
        F.avg("humidity").alias("avg_humidity"),  # A3
        F.sort_array(F.collect_set("city")).alias("cities"),  # A5
        *banded_histogram(weather, "temperature", TEMPERATURE_BANDS),  # A8
    ]
    grouped = weather.groupBy(*group_by) if group_by else weather.groupBy()
    out = grouped.agg(*aggs)
    # A8 bands folded into the reference's nested shape (FIXTURES.md A3)
    band_names = [b[0] for b in TEMPERATURE_BANDS]
    return out.withColumn(
        "temperature_distribution", F.struct(*[F.col(b) for b in band_names])
    ).drop(*band_names)


def condition_histogram(weather: DataFrame, group_by: list[str] | None = None) -> DataFrame:
    """A6 `weather_conditions` value-counts (reference ``load.py:103``) as a
    map column, built relationally: groupBy + map_from_entries."""
    keys = group_by or []
    counted = weather.groupBy(*keys, "weather").agg(F.count(F.lit(1)).alias("cnt"))
    collected = counted.groupBy(*keys).agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("weather", "cnt")))
        ).alias("weather_conditions")
    )
    return collected


def psi_drift(
    reference: DataFrame,
    current: DataFrame,
    value_col: str = "value",
    group_col: str | None = "event_type",
    n_buckets: int = 10,
    floor: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    window — the standard data-quality drift monitor (PSI < 0.1 stable,
    0.1-0.25 moderate shift, > 0.25 action): PSI = sum over buckets of
    (q - p) * ln(q / p), with p/q the bucket proportions in reference/
    current and buckets = the REFERENCE window's exact deciles (so the
    reference scores ~0 against itself by construction).

    Relational shape: one exact-percentile aggregate on the reference (a
    1-row array, broadcast into both scans — the same pattern as
    order_price_quartiles), bucket assignment as a counting fold over
    the boundary array (map-only), two (group, bucket) count aggregates,
    a full outer join (a bucket empty on one side still contributes),
    and proportions floored at ``floor`` so log terms stay finite.
    Returns (group, n_ref, n_cur, psi).
    """
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = reference.agg(
        F.percentile(F.col(value_col), F.array(*[F.lit(q) for q in qs])).alias("_bnds")
    )

    def bucketed(df, cnt_name):
        keys = [F.col(group_col)] if group_col else [F.lit(1).alias("_g")]
        b = df.crossJoin(F.broadcast(bounds)).select(
            *keys,
            F.aggregate(
                F.col("_bnds"),
                F.lit(0),
                lambda acc, x: acc + F.when(F.col(value_col) > x, 1).otherwise(0),
            ).alias("bucket"),
        )
        gcols = [group_col] if group_col else ["_g"]
        return b.groupBy(*gcols, "bucket").agg(F.count(F.lit(1)).alias(cnt_name))

    gcols = [group_col] if group_col else ["_g"]
    p = bucketed(reference, "_rc")
    q = bucketed(current, "_cc")
    joined = p.join(q, [*gcols, "bucket"], "full_outer").fillna(
        {"_rc": 0, "_cc": 0}
    )
    totals = joined.groupBy(*gcols).agg(
        F.sum("_rc").alias("n_ref"), F.sum("_cc").alias("n_cur")
    )
    # try_divide: a group present in only ONE window (a brand-new or
    # vanished event type — exactly when drift is maximal) has a zero
    # total on the other side; ANSI division would abort the job, while
    # NULL -> greatest(NULL, floor) = floor scores it as extreme drift
    pr = F.greatest(F.try_divide(F.col("_rc"), F.col("n_ref")), F.lit(floor))
    cr = F.greatest(F.try_divide(F.col("_cc"), F.col("n_cur")), F.lit(floor))
    return (
        joined.join(totals, gcols)
        .groupBy(*gcols)
        .agg(
            F.max("n_ref").cast("long").alias("n_ref"),
            F.max("n_cur").cast("long").alias("n_cur"),
            F.round(F.sum((cr - pr) * F.log(cr / pr)), 6).alias("psi"),
        )
    )


def count_min_sketch(
    items: DataFrame,
    item_col: str = "item",
    weight_col: str | None = None,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Build a Count-Min sketch (Cormode & Muthukrishnan 2005) over an
    item column: ``depth`` independent hash rows of ``width`` counters.
    One explode-free pass — each input row contributes to exactly
    ``depth`` cells via a posexplode of its hash array — then a single
    (row, bucket) aggregate whose output cardinality is depth*width,
    independent of data size (the mergeability that makes CMS the
    standard distributed frequency sketch: per-partition partials
    combine by cell-wise +).

    Hashing is the portable md5 family (hash60 of "salt|item" mod
    width), so a SQL engine can rebuild the identical sketch — unlike
    Spark's built-in ``count_min_sketch`` aggregate, whose murmur cells
    no other engine can recompute. Returns (row, bucket, cnt)."""
    from .dedup import portable_hash60

    c = F.col(item_col)
    w = F.col(weight_col) if weight_col else F.lit(1)
    hashes = F.array(
        *[(portable_hash60(F.lit(str(d)), c) % width) for d in range(depth)]
    )
    return (
        items.select(w.alias("_w"), F.posexplode(hashes).alias("row", "bucket"))
        .groupBy("row", "bucket")
        .agg(F.sum("_w").cast("long").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame, probes: DataFrame, item_col: str = "item",
    depth: int = 4, width: int = 256,
) -> DataFrame:
    """Point-query the CMS for each probe item: min over the sketch's
    ``depth`` cells addressed by the item's hashes. The sketch is
    depth*width rows (bounded) so the join broadcasts; estimates
    upper-bound true counts (eps = e/width overcount with prob
    1 - 1/e^depth). Returns (item, cms_count).

    The sketch table stores only NON-ZERO cells, so the join must be a
    LEFT join with a 0 default: a never-stored cell means count 0, and
    the min over the item's cells must see it — an inner join would
    both inflate estimates for unseen items whose other cells collide
    with real data AND drop fully-unseen probes from the output
    entirely (the true CMS answer for those is 0, one row per probe)."""
    from .dedup import portable_hash60

    c = F.col(item_col)
    hashes = F.array(
        *[(portable_hash60(F.lit(str(d)), c) % width) for d in range(depth)]
    )
    addressed = probes.select(c, F.posexplode(hashes).alias("row", "bucket"))
    return (
        addressed.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("cms_count"))
    )


def hll_distinct_estimate(
    items: DataFrame, item_col: str = "item", b: int = 8
) -> DataFrame:
    """HyperLogLog distinct-count estimate (Flajolet et al. 2007) built
    from scratch on the portable md5 hash family, so the WHOLE sketch —
    register assignment, rho, bias constant, small-range correction —
    is recomputable in SQL (Spark's approx_count_distinct uses an
    opaque HLL++ no other engine reproduces; that stays the production
    path, this one exists for auditability and as the mergeable
    register-table form).

    m = 2^b registers; a 60-bit hash splits into a low-bits register
    index and a 52-bit suffix whose most-significant-bit position gives
    rho (computed EXACTLY via length(bin(v)) — no float log2 at bit
    boundaries). One grouped max per register (m-row output, mergeable
    by cell-wise max), a left join against the m-row spine for
    never-hit registers, then the standard harmonic-mean estimate with
    the linear-counting small-range correction. Returns one row
    (hll_estimate DOUBLE)."""
    from .dedup import portable_hash60

    m = 1 << b
    h = portable_hash60(F.col(item_col))
    # exact integer suffix: an arithmetic shift, never double division —
    # double(h) at 2^60 has a 128-ulp and would corrupt the low bits
    v = F.shiftright(h, b)
    regs = (
        items.select((h % m).alias("j"), v.alias("_v"))
        .select(
            "j",
            F.when(F.col("_v") == 0, F.lit(53))
            .otherwise(F.lit(53) - F.length(F.bin(F.col("_v"))))
            .alias("rho"),
        )
        .groupBy("j")
        .agg(F.max("rho").alias("M"))
    )
    spine = items.sparkSession.range(m).select(F.col("id").alias("j"))
    full = spine.join(regs, "j", "left").select(
        F.coalesce(F.col("M"), F.lit(0)).alias("M")
    )
    alpha = 0.7213 / (1 + 1.079 / m)
    agg = full.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("M"))).alias("z"),
        F.sum(F.when(F.col("M") == 0, 1).otherwise(0)).alias("zeros"),
    )
    raw = F.lit(alpha * m * m) / F.col("z")
    corrected = F.when(
        (raw <= 2.5 * m) & (F.col("zeros") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zeros")),
    ).otherwise(raw)
    return agg.select(corrected.alias("hll_estimate"))


def mad_outliers(
    df: DataFrame,
    key_col: str,
    value_col: str,
    z: float = 3.5,
) -> DataFrame:
    """Robust per-group outlier profile via Median Absolute Deviation
    (the standard robust z-score: modified z = 0.6745 * |v - med| / MAD,
    flag when > ``z`` — Iglewicz & Hoaglin's recommended 3.5). Unlike
    mean/stddev screens, one extreme value cannot drag the threshold.

    Two grouped exact-percentile aggregates (median, then median of
    absolute deviations) chained through co-partitioned joins on the
    SAME group key — two shuffles of the fact table, both on the key,
    group-count output.

    MAD is 0 whenever a MAJORITY of a group equals its median (not just
    all-constant groups) — which would null every modified z right when
    an extreme value sticks out of an otherwise-flat group. Per
    Iglewicz & Hoaglin's prescription the score falls back to the MEAN
    absolute deviation (0.7979 * |v - med| / MeanAD) in that case; a
    genuinely all-constant group has MeanAD 0 too and defines 0
    outliers via try_divide.

    Returns (key, med, mad, n, n_outliers, outlier_frac)."""
    v = F.col(value_col)
    med = df.groupBy(key_col).agg(F.percentile(v, F.lit(0.5)).alias("_med"))
    with_dev = df.join(med, key_col).withColumn("_dev", F.abs(v - F.col("_med")))
    mad = with_dev.groupBy(key_col).agg(
        F.percentile(F.col("_dev"), F.lit(0.5)).alias("_mad"),
        F.avg(F.col("_dev")).alias("_meanad"),
    )
    modz = F.when(
        F.col("_mad") > 0, F.lit(0.6745) * F.col("_dev") / F.col("_mad")
    ).otherwise(F.try_divide(F.lit(0.7979) * F.col("_dev"), F.col("_meanad")))
    scored = with_dev.join(mad, key_col).withColumn("_modz", modz)
    return (
        scored.groupBy(key_col)
        .agg(
            F.round(F.max("_med"), 6).alias("med"),
            F.round(F.max("_mad"), 6).alias("mad"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("_modz") > z, 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
        )
        .withColumn(
            "outlier_frac", F.round(F.col("n_outliers") / F.col("n"), 6)
        )
    )


def grouped_ols_trend(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group OLS time trend (slope per hour, intercept at the group's
    mean time, r^2) in closed form — the per-key version of the Zipf
    fit, and the standard "is this metric drifting" analytics primitive.

    Two-pass CENTERED formulation: a first grouped aggregate takes each
    group's mean time and mean value, a co-partitioned join subtracts
    them, and the second aggregate sums deviation products. The naive
    one-pass (n*Sxy - Sx*Sy) form suffers catastrophic cancellation at
    epoch magnitudes — engine-specific last-ulp sum differences get
    amplified past any rounding, while centered sums keep ~12 digits of
    agreement. Both shuffles are on the group key; output is
    group-count-sized. r^2 of a constant group (zero variance either
    axis) is defined as 0 via try_divide."""
    x = F.unix_timestamp(F.col(ts_col)).cast("double") / 3600.0
    y = F.col(value_col).cast("double")
    means = df.groupBy(key_col).agg(
        F.avg(x).alias("_mx"), F.avg(y).alias("_my"),
        F.count(F.lit(1)).alias("n"),
    )
    dev = df.join(means, key_col).select(
        key_col,
        "n",
        (x - F.col("_mx")).alias("_dx"),
        (y - F.col("_my")).alias("_dy"),
        F.col("_my").alias("_my"),
    )
    agg = dev.groupBy(key_col).agg(
        F.max("n").alias("n"),
        F.max("_my").alias("_my"),
        F.sum(F.col("_dx") * F.col("_dy")).alias("_sxy"),
        F.sum(F.col("_dx") * F.col("_dx")).alias("_sxx"),
        F.sum(F.col("_dy") * F.col("_dy")).alias("_syy"),
    )
    slope = F.try_divide(F.col("_sxy"), F.col("_sxx"))
    r2 = F.try_divide(F.col("_sxy") * F.col("_sxy"), F.col("_sxx") * F.col("_syy"))
    return agg.select(
        key_col,
        F.col("n").cast("long").alias("n"),
        F.round(F.coalesce(slope, F.lit(0.0)), 6).alias("slope_per_hour"),
        F.round(F.col("_my"), 6).alias("mean_value"),
        F.round(F.coalesce(r2, F.lit(0.0)), 6).alias("r2"),
    )


def ab_conversion_ztest(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    convert_type: str = "purchase",
) -> DataFrame:
    """A/B experiment readout with a deterministic variant assignment:
    users hash into control (0) / treatment (1) via the portable md5
    bucket (the same split primitive as operators/sampling.py — re-runs
    and engine audits reproduce the assignment bit-for-bit), a user
    converts iff they ever emit ``convert_type``, and the two-proportion
    pooled z-statistic tests the conversion-rate difference.

    Shape at scale: one user-keyed agg (map-side combined boolean max),
    one conditional 1-row rollup — no join at all. Returns a single row:
    counts, rates, absolute/relative lift, and z.
    """
    from .sampling import hash_bucket

    per_user = events.groupBy(user_col).agg(
        F.max(
            F.when(F.col(type_col) == convert_type, F.lit(1)).otherwise(F.lit(0))
        ).alias("_conv")
    )
    assigned = per_user.withColumn("_v", hash_bucket(user_col, 2))
    agg = assigned.agg(
        F.sum(F.when(F.col("_v") == 0, 1).otherwise(0)).cast("bigint").alias("n_control"),
        F.sum(F.when(F.col("_v") == 1, 1).otherwise(0)).cast("bigint").alias("n_treatment"),
        F.sum(F.when(F.col("_v") == 0, F.col("_conv")).otherwise(0)).cast("bigint").alias("conv_control"),
        F.sum(F.when(F.col("_v") == 1, F.col("_conv")).otherwise(0)).cast("bigint").alias("conv_treatment"),
    )
    p0 = F.col("conv_control") / F.col("n_control")
    p1 = F.col("conv_treatment") / F.col("n_treatment")
    pooled = (F.col("conv_control") + F.col("conv_treatment")) / (
        F.col("n_control") + F.col("n_treatment")
    )
    se = F.sqrt(
        pooled * (1.0 - pooled) * (1.0 / F.col("n_control") + 1.0 / F.col("n_treatment"))
    )
    return agg.select(
        "n_control",
        "n_treatment",
        "conv_control",
        "conv_treatment",
        F.round(p0, 6).alias("rate_control"),
        F.round(p1, 6).alias("rate_treatment"),
        F.round(p1 - p0, 6).alias("abs_lift"),
        F.round(F.try_divide(p1 - p0, p0), 6).alias("rel_lift"),
        F.round(F.try_divide(p1 - p0, se), 6).alias("z_score"),
    )


# Poisson(1) CDF thresholds for the bootstrap weights: P(X <= k) for
# k = 0..4; u above the last threshold draws weight 5. Shared with the
# DuckDB oracle (queries.py interpolates these exact literals) so both
# engines draw identical weights from identical md5 uniforms.
POISSON1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
]


def poisson_bootstrap_ci(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    n_reps: int = 50,
    alpha: float = 0.05,
) -> DataFrame:
    """Bootstrap confidence interval for the per-key mean via the POISSON
    bootstrap (Chamandy et al. 2012, "Estimating Uncertainty for Massive
    Data Streams") — the resample-with-replacement weights of a classical
    bootstrap converge to iid Poisson(1) per (row, replicate), which needs
    no global row count and no coordinated sampling: each row draws its
    B weights independently from a deterministic md5 uniform, so the whole
    procedure is one explode + one (key, replicate) map-side-combined agg
    + one percentile agg over B replicate means per key. Classical
    bootstrap resampling is undistributable (it needs n draws from the
    FULL dataset per replicate); this is the standard scale substitute.

    Deterministic and engine-portable: no RNG anywhere. Hash-bit
    BUDGETING (the dominant cost is md5 evaluation, measured ~5.5 s at
    sf0.1 with one hash per (row, replicate)): one 60-bit
    portable_hash60(r, block) yields FIVE independent 12-bit uniform
    lanes, so B replicates cost B/5 hashes per row — a 5x cut. The
    1/4096 uniform granularity perturbs the Poisson cutoffs by < 2.5e-4
    probability mass, far below bootstrap noise at any B; the lane
    extraction is integer shift/mask both engines replay exactly.
    """
    from .dedup import portable_hash60

    if n_reps < 1:
        raise ValueError(f"n_reps must be >= 1, got {n_reps}")
    # any replicate count is accepted (the r10 multiple-of-5 requirement
    # broke existing callers, ADVICE r10): the block count rounds UP and
    # the final partial block's surplus lanes are dropped by the
    # rep < n_reps filter below — replicate weights for a given (row,
    # rep) are identical regardless of n_reps, so results nest
    n_blocks = -(-n_reps // 5)
    blocks = events.select(
        key_col,
        value_col,
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("_blk"),
    ).withColumn("_h", portable_hash60(F.col(id_col), F.col("_blk")))
    lanes = blocks.select(
        key_col,
        value_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("_blk") * 5 + lane).alias("rep"),
                        F.shiftright(F.col("_h"), 12 * lane)
                        .bitwiseAND(F.lit(4095))
                        .alias("_lv"),
                    )
                    for lane in range(5)
                ]
            )
        ).alias("_rl"),
    ).select(key_col, value_col, "_rl.rep", "_rl._lv").filter(
        F.col("rep") < n_reps
    )
    u = (F.col("_lv") + 1).cast("double") / 4096.0
    w = F.when(u < POISSON1_CDF[0], 0)
    for k in range(1, 5):
        w = w.when(u < POISSON1_CDF[k], k)
    w = w.otherwise(5).cast("double")
    rep_means = (
        lanes.withColumn("_w", w)
        .groupBy(key_col, "rep")
        .agg(
            F.try_divide(
                F.sum(F.col("_w") * F.col(value_col)), F.sum("_w")
            ).alias("_m")
        )
    )
    return rep_means.groupBy(key_col).agg(
        F.count("_m").cast("bigint").alias("n_reps"),
        F.round(F.avg("_m"), 6).alias("boot_mean"),
        F.round(F.percentile("_m", alpha / 2), 6).alias("ci_lo"),
        F.round(F.percentile("_m", 1 - alpha / 2), 6).alias("ci_hi"),
    )


def ridge_closed_form_2f(
    df: DataFrame,
    x1: Column | str,
    x2: Column | str,
    y: Column | str,
    l2: float = 1.0,
) -> DataFrame:
    """Closed-form ridge regression on two features + intercept via the
    normal equations — the canonical one-pass distributed-ML pattern:
    the WHOLE fit is a single map-side-combined aggregate producing the
    nine sufficient statistics (Gram matrix X'X and moment vector X'y),
    then a 3x3 Cramer's-rule solve as plain column arithmetic on that one
    row. No iteration, no driver-side data, no collect: at 100 TB the
    shuffle carries 9 doubles per partition.

    ``l2`` is added to every diagonal entry INCLUDING the intercept (the
    fully-symmetric variant; document/standardize features upstream when
    the un-penalized-intercept convention matters). Returns one row
    (n, b0, b1, b2, det) with coefficients rounded to 6 — an engine
    running the same formula on the same data reproduces them exactly,
    which is what makes the fit auditable.
    """
    c1 = F.col(x1) if isinstance(x1, str) else x1
    c2 = F.col(x2) if isinstance(x2, str) else x2
    cy = F.col(y) if isinstance(y, str) else y
    c1, c2, cy = c1.cast("double"), c2.cast("double"), cy.cast("double")
    s = df.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(c1).alias("s1"),
        F.sum(c2).alias("s2"),
        F.sum(c1 * c1).alias("s11"),
        F.sum(c1 * c2).alias("s12"),
        F.sum(c2 * c2).alias("s22"),
        F.sum(cy).alias("sy"),
        F.sum(c1 * cy).alias("s1y"),
        F.sum(c2 * cy).alias("s2y"),
    )
    lam = float(l2)
    # A = X'X + lam*I (symmetric 3x3), b = X'y; Cramer's rule.
    a00 = F.col("n") + lam
    a01, a02 = F.col("s1"), F.col("s2")
    a11 = F.col("s11") + lam
    a12, a22 = F.col("s12"), F.col("s22") + lam
    b0, b1, b2 = F.col("sy"), F.col("s1y"), F.col("s2y")
    det = (
        a00 * (a11 * a22 - a12 * a12)
        - a01 * (a01 * a22 - a12 * a02)
        + a02 * (a01 * a12 - a11 * a02)
    )
    d0 = (
        b0 * (a11 * a22 - a12 * a12)
        - a01 * (b1 * a22 - a12 * b2)
        + a02 * (b1 * a12 - a11 * b2)
    )
    d1 = (
        a00 * (b1 * a22 - b2 * a12)
        - b0 * (a01 * a22 - a12 * a02)
        + a02 * (a01 * b2 - b1 * a02)
    )
    d2 = (
        a00 * (a11 * b2 - b1 * a12)
        - a01 * (a01 * b2 - b1 * a02)
        + b0 * (a01 * a12 - a11 * a02)
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.round(d0 / det, 6).alias("b0"),
        F.round(d1 / det, 6).alias("b1"),
        F.round(d2 / det, 6).alias("b2"),
    )
