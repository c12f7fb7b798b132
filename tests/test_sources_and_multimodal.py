from __future__ import annotations

import json
from datetime import datetime, timezone
from zoneinfo import ZoneInfo

from pyspark.sql import functions as F

from weatherdatapipeline_spark.operators.multimodal import extract_features
from weatherdatapipeline_spark.sources.catalog import TableCatalog
from weatherdatapipeline_spark.sources.rest import ingest
from weatherdatapipeline_spark.sources.synthetic import synthetic_weather


def canned_payload(city: str) -> str | None:
    if city == "Brokenville":
        return "{not json"
    if city == "Nowhere":
        raise RuntimeError("connection refused")
    return json.dumps(
        {
            "name": city,
            "main": {"temp": 21.5, "feels_like": 22.0, "humidity": 55, "pressure": 1012},
            "weather": [{"main": "Clear", "description": "clear sky"}],
            "wind": {"speed": 3.2},
            "sys": {"country": "XX"},
            "dt": 1700000000,
        }
    )


def test_rest_ingest_tolerates_failures(spark):
    out = ingest(spark, ["Alpha", "Brokenville", "Nowhere", "Beta"], canned_payload)
    rows = out.collect()
    # Brokenville (bad JSON) and Nowhere (fetch error) are skipped, batch survives
    assert sorted(r["city"] for r in rows) == ["Alpha", "Beta"]
    r = rows[0]
    assert r["temperature"] == 21.5 and r["weather"] == "Clear" and r["country"] == "XX"
    assert r["timestamp"] == 1700000000


def test_synthetic_weather_shape_and_determinism(spark):
    a = synthetic_weather(spark, n_batches=3).collect()
    b = synthetic_weather(spark, n_batches=3).collect()
    assert len(a) == 30
    assert a == b  # hash-derived, partition-stable
    temps = [r["temperature"] for r in a]
    assert all(5.0 <= t <= 50.0 for t in temps)
    per_city = {}
    for r in a:
        per_city.setdefault(r["city"], []).append(r["timestamp"])
    assert all(ts == sorted(ts) and len(set(ts)) == len(ts) for ts in per_city.values())


def test_catalog_sinks_roundtrip(spark, tmp_path):
    cat = TableCatalog(spark, str(tmp_path))
    df = synthetic_weather(spark, n_batches=2)
    at = datetime(2024, 5, 1, 12, 30, 45, tzinfo=timezone.utc)
    cat.append_raw(df, at)
    cat.append_raw(df, at)  # append log grows
    assert cat.read("raw_weather").count() == 40
    cat.overwrite_current(df)
    cur = cat.read("current_weather")
    assert cur.count() == 10  # latest row per city
    assert cur.filter(F.col("is_current")).count() == 10
    cat.append_batch_partition(df, at)
    # the one driver instant, formatted in the session time zone
    want = at.astimezone(ZoneInfo(spark.conf.get("spark.sql.session.timeZone")))
    want = want.strftime("%Y%m%d_%H%M%S")
    for table in ("raw_weather", "weather_batches"):
        ids = cat.read(table).select("batch_id").distinct().collect()
        assert [r[0] for r in ids] == [want], table
    assert sorted(cat.list_tables()) == ["current_weather", "raw_weather", "weather_batches"]


def test_jsonl_roundtrip_with_schema(spark, tmp_path):
    cat = TableCatalog(spark, str(tmp_path))
    docs = spark.createDataFrame(
        [(1, "hello world", "en"), (2, 'quote " and\nnewline', "de")],
        "doc_id LONG, text STRING, lang STRING",
    )
    cat.write_jsonl(docs, "docs_jsonl")
    back = spark.read.schema("doc_id LONG, text STRING, lang STRING").json(
        cat.path("docs_jsonl")
    )
    got = {r["doc_id"]: (r["text"], r["lang"]) for r in back.collect()}
    # JSON string escaping must round-trip quotes and embedded newlines
    assert got == {1: ("hello world", "en"), 2: ('quote " and\nnewline', "de")}


def test_multimodal_features(spark):
    import hashlib

    # 64-byte hex-digest blobs: not decodable images, so every modality
    # (image included) takes the byte-fold fallback
    media = spark.createDataFrame(
        [
            (i, ("image", "audio", "video")[i % 3], hashlib.sha256(b"%d" % i).hexdigest().encode())
            for i in range(12)
        ],
        "media_id long, modality string, blob binary",
    )
    feats = extract_features(media, dim=8).collect()
    assert len(feats) == 12
    assert all(len(r["feature"]) == 8 for r in feats)
    assert all(r["n_bytes"] == 64 for r in feats)  # sha2-256 hex → 64 bytes
    again = {r["media_id"]: r["feature"] for r in extract_features(media, dim=8).collect()}
    first = {r["media_id"]: r["feature"] for r in feats}
    assert again == first  # deterministic


def test_extract_features_real_decode_path(spark):
    # a valid PNG flows through the REAL decode branch: features are
    # normalized grayscale pixels, NOT the byte-fold stand-in of the blob
    from weatherdatapipeline_spark.operators.multimodal import _fake_feature
    from weatherdatapipeline_spark.operators.png import encode_png

    blob = encode_png(8, 1, "L", b"\xff" * 8)
    media = spark.createDataFrame(
        [(0, "image", bytearray(blob))], "media_id long, modality string, blob binary"
    )
    [row] = extract_features(media, dim=8).collect()
    assert row["feature"] == [1.0] * 8  # white pixels → 255/255
    assert row["feature"] != _fake_feature(blob, 8)


def test_catalog_compact_small_files(spark, tmp_path):
    from weatherdatapipeline_spark.sources.catalog import TableCatalog

    cat = TableCatalog(spark, str(tmp_path))
    df = spark.range(1000).withColumnRenamed("id", "x")
    for _ in range(5):  # five appends -> many small files
        df.repartition(8).write.mode("append").parquet(cat.path("logs"))
    import glob

    before = len(glob.glob(f"{cat.path('logs')}/*.parquet"))
    assert before >= 40
    n = cat.compact("logs", target_file_bytes=10 * 1024 * 1024)
    after = len(glob.glob(f"{cat.path('logs')}/*.parquet"))
    assert n == 1 and after == 1
    assert spark.read.parquet(cat.path("logs")).count() == 5000


def test_zorder_layout_improves_two_column_locality(spark, tmp_path):
    """Files range-sorted on the ``layout.morton_interleave`` key of two
    columns must cover small rectangles in (a, b) space:
    the mean per-file min-max extent on EACH column must be far below
    the single-column-sorted layout's extent on its non-sorted column
    (where every file spans ~the full range)."""
    import pyarrow.parquet as pq
    import os

    from weatherdatapipeline_spark.operators.layout import morton_interleave

    cat = TableCatalog(spark, str(tmp_path))
    n = 20_000
    df = spark.range(n).selectExpr(
        "id", "CAST(pmod(id * 2654435761, 100000) AS DOUBLE) AS a",
        "CAST(pmod(id * 40503, 100000) AS DOUBLE) AS b",
    )
    # 10-bit bands of each column, interleaved into one Morton key
    z = morton_interleave(
        F.floor(F.col("a") / 100000 * 1024).cast("long"),
        F.floor(F.col("b") / 100000 * 1024).cast("long"),
        10,
    )
    (
        df.withColumn("_z", z)
        .repartitionByRange(16, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.parquet(cat.path("zorder"))
    )
    cat.write_range_sorted(df, "asorted", "a", n_ranges=16)

    def mean_extent(table, col):
        root = cat.path(table)
        spans = []
        for f in os.listdir(root):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, f)).metadata
            idx = md.schema.names.index(col)
            lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
            hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
            spans.append(hi - lo)
        return sum(spans) / len(spans)

    full = 100000.0
    # z-order: both columns localized well below the full range
    assert mean_extent("zorder", "a") < 0.6 * full
    assert mean_extent("zorder", "b") < 0.6 * full
    # single-column sort: the sorted column is tight but the OTHER
    # column's per-file extent spans essentially everything
    assert mean_extent("asorted", "a") < 0.2 * full
    assert mean_extent("asorted", "b") > 0.9 * full
    # z-order beats the single-sort layout on the non-sorted column
    assert mean_extent("zorder", "b") < 0.7 * mean_extent("asorted", "b")
