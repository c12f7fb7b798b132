"""Declared schemas — schema-on-write at every boundary.

The reference infers schema everywhere and repairs types defensively and
repeatedly (reference ``transform.py:22``, ``training.py:154-157``,
``predict.py:78-87``; SURVEY.md §1.3). Here every table has one declared
StructType and coercion happens once, at ingest.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Flat weather observation — the reference's core record
# (reference transform.py:8-19; CSV header data/weather_data_*.csv).
WEATHER_RAW = StructType(
    [
        StructField("city", StringType(), False),
        StructField("country", StringType(), True),
        StructField("temperature", DoubleType(), True),
        StructField("feels_like", DoubleType(), True),
        StructField("humidity", IntegerType(), True),
        StructField("pressure", IntegerType(), True),
        StructField("weather", StringType(), True),
        StructField("description", StringType(), True),
        StructField("wind_speed", DoubleType(), True),
        # raw unix seconds as emitted by the source; coerced to TimestampType
        # by ingest (features F1: timestamp_seconds)
        StructField("timestamp", LongType(), True),
    ]
)

# The nested source JSON shape (OpenWeather response) that WEATHER_RAW is
# flattened from (reference extract.py:17 / transform.py:9-18). Declared so
# from_json parses with a contract instead of inference.
WEATHER_SOURCE_JSON = StructType(
    [
        StructField("name", StringType()),
        StructField(
            "main",
            StructType(
                [
                    StructField("temp", DoubleType()),
                    StructField("feels_like", DoubleType()),
                    StructField("humidity", IntegerType()),
                    StructField("pressure", IntegerType()),
                ]
            ),
        ),
        StructField(
            "weather",
            ArrayType(
                StructType(
                    [
                        StructField("main", StringType()),
                        StructField("description", StringType()),
                    ]
                )
            ),
        ),
        StructField("wind", StructType([StructField("speed", DoubleType())])),
        StructField("sys", StructType([StructField("country", StringType())])),
        StructField("dt", LongType()),
    ]
)
