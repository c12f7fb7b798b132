"""Synthetic weather source — the engine's default, network-free source
(reference demo_pipeline.py:12-38, operator S13).

Generated ENTIRELY Spark-side: ``spark.range(n)`` + deterministic
hash-derived pseudo-randoms — no driver-side Python loop, no collect. The
same expression graph generates 540 rows or 54 billion; partition count
scales with ``n``.

Determinism: every "random" value is a pure function of (seed, row id) via
the repo's PORTABLE md5 integer pattern (48 hex-prefix bits of
md5(salt || sid) — the same derivation queries._geo_points uses), so the
same seed gives the same dataset on any cluster size, under any
partitioning, AND the fixture is bit-replayable in DuckDB SQL — which is
what lets the weather queries carry full strict oracles instead of
rows-only checks (VERDICT r10 item 6; previously xxhash64, which DuckDB
cannot evaluate). (rand(seed) is NOT partition-stable; hash-derived
values are.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.features import sql_literal

# Mirrors the reference's demo city set (demo_pipeline.py:16-17) — value
# ranges from demo_pipeline.py:23-34.
CITIES = [
    ("Mumbai", "IN"),
    ("Delhi", "IN"),
    ("Bangalore", "IN"),
    ("London", "GB"),
    ("New York", "US"),
    ("Tokyo", "JP"),
    ("Sydney", "AU"),
    ("Paris", "FR"),
    ("Berlin", "DE"),
    ("Moscow", "RU"),
]
CONDITIONS = ["Clear", "Clouds", "Rain", "Mist", "Thunderstorm"]
INTENSITY = ["light", "heavy", "moderate"]


def _h48(seed_col: Column, salt: str) -> Column:
    """Portable 48-bit integer: first 12 hex chars of md5(salt || sid) —
    non-negative, identical in DuckDB as
    ``('0x' || substr(md5(salt || CAST(sid AS VARCHAR)), 1, 12))::BIGINT``."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), seed_col.cast("string"))), 1, 12),
        16,
        10,
    ).cast("long")


def _u(seed_col, salt: str, lo: float, hi: float):
    """Deterministic uniform in [lo, hi): hash → [0,1) → scale."""
    unit = (F.pmod(_h48(seed_col, salt), F.lit(1_000_000_000)).cast("double")) / 1e9
    return lo + unit * (hi - lo)


def synthetic_weather(
    spark: SparkSession,
    n_batches: int = 10,
    cities: list[tuple[str, str]] | None = None,
    seed: int = 42,
    start_unix: int = 1_700_000_000,
    interval_s: int = 300,
) -> DataFrame:
    """One observation per (batch, city): ``n_batches`` polls at 5-minute
    cadence (reference scheduler.py:49), per-city strictly-increasing
    timestamps (FIXTURES.md A1)."""
    cities = cities or CITIES
    # one SQL expression, not ~6 Column calls (each a JVM round-trip) per city
    city_arr = F.expr("array({})".format(", ".join(
        f"named_struct('city', {sql_literal(c)}, 'country', {sql_literal(k)})" for c, k in cities
    )))
    rows = spark.range(n_batches * len(cities)).select(
        (F.col("id") / len(cities)).cast("long").alias("batch"),
        F.pmod(F.col("id"), F.lit(len(cities))).cast("int").alias("ci"),
        (F.col("id") + seed).alias("sid"),
    )
    base_temp = _u(F.col("sid"), "base", 15.0, 40.0)
    return rows.select(
        F.element_at(city_arr, F.col("ci") + 1).getField("city").alias("city"),
        F.element_at(city_arr, F.col("ci") + 1).getField("country").alias("country"),
        F.round(base_temp + _u(F.col("sid"), "dt", -5.0, 5.0), 2).alias("temperature"),
        F.round(base_temp + _u(F.col("sid"), "fl", -3.0, 7.0), 2).alias("feels_like"),
        (40 + F.pmod(_h48(F.col("sid"), "hum"), F.lit(51))).cast("int").alias("humidity"),
        (1000 + F.pmod(_h48(F.col("sid"), "prs"), F.lit(21))).cast("int").alias("pressure"),
        F.element_at(
            F.array(*[F.lit(c) for c in CONDITIONS]),
            F.pmod(_h48(F.col("sid"), "wx"), F.lit(len(CONDITIONS))).cast("int") + 1,
        ).alias("weather"),
        F.concat_ws(
            " ",
            F.element_at(
                F.array(*[F.lit(i) for i in INTENSITY]),
                F.pmod(_h48(F.col("sid"), "in"), F.lit(len(INTENSITY))).cast("int") + 1,
            ),
            F.lower(
                F.element_at(
                    F.array(*[F.lit(c) for c in CONDITIONS]),
                    F.pmod(_h48(F.col("sid"), "wx"), F.lit(len(CONDITIONS))).cast("int") + 1,
                )
            ),
        ).alias("description"),
        F.round(_u(F.col("sid"), "wind", 1.0, 15.0), 2).alias("wind_speed"),
        (F.lit(start_unix) + F.col("batch") * interval_s).alias("timestamp"),
    )
