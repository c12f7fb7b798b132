"""Focused tests for the per-build cache scope
(operators/text.py::persist_scoped / release_scoped).

A query build may persist several substrates before anything executes
(minhash_recall_audit = ppjoin + minhash portable); all of them must stay
live while the returned plan runs, and the next registered build must
release them. Callers outside the registry own what they persist.
The autouse fixture in conftest.py empties the pool after every test.
"""

from __future__ import annotations

import pytest

from weatherdatapipeline_spark.operators import text as T


def test_pool_keeps_multiple_substrates_live(spark):
    """Registering several distinct substrates keeps every one of them
    live: nothing is evicted within a scope."""
    dfs = [
        T.persist_scoped(spark.range(100 + i).selectExpr("id", f"id * {i + 2} as v"))
        for i in range(3)
    ]
    for df in dfs:
        df.count()  # materialize
    assert all(df.storageLevel.useMemory for df in dfs)
    assert len(T._live_scan_caches) == 3


def test_release_scoped_empties_pool(spark):
    df = T.persist_scoped(spark.range(33).selectExpr("id as rel_a"))
    df.count()
    assert df.storageLevel.useMemory
    T.release_scoped()
    assert T._live_scan_caches == []
    assert not df.storageLevel.useMemory


def test_registered_build_releases_previous_build_only(spark, monkeypatch):
    """A registered build starts by releasing the previous build's
    substrates, and its own stay live after it returns (its plan runs
    later)."""
    from weatherdatapipeline_spark import queries as Q

    monkeypatch.setattr(Q, "QUERIES", {})
    monkeypatch.setattr(Q, "ORACLES", {})
    built = {}

    def scope_first(s, d):
        built["first"] = T.persist_scoped(s.range(41).selectExpr("id as sc_first"), eager=True)
        return built["first"]

    def scope_second(s, d):
        a = T.persist_scoped(s.range(42).selectExpr("id as sc_a"), eager=True)
        b = T.persist_scoped(s.range(43).selectExpr("id as sc_b"), eager=True)
        built["second"] = (a, b)
        return a.crossJoin(b)

    Q.register(scope_first, "SELECT 1")
    Q.register(scope_second, None)
    assert Q.ORACLES == {"scope_first": "SELECT 1"}
    with pytest.raises(ValueError, match="already registered"):
        Q.register(scope_first, None)

    Q.QUERIES["scope_first"](spark, "unused")
    assert built["first"].storageLevel.useMemory
    out = Q.QUERIES["scope_second"](spark, "unused")
    assert not built["first"].storageLevel.useMemory
    assert all(df.storageLevel.useMemory for df in built["second"])
    assert T._live_scan_caches == list(built["second"])
    assert out.count() == 42 * 43


def test_streaming_etl_leaves_no_cache(spark, tmp_path):
    """The ETL sink persists each micro-batch and releases it in
    ``finally``: once the stream stops, no persisted RDD and no scoped
    cache is left."""
    from weatherdatapipeline_spark.sources.catalog import TableCatalog
    from weatherdatapipeline_spark.sources.synthetic import synthetic_weather
    from weatherdatapipeline_spark.streaming.jobs import streaming_etl

    def persisted_rdds():
        # localCheckpoint blocks are freed by the ContextCleaner once their
        # plan is collected; a persist() is held until someone unpersists it
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        return {k for k in rdds.keySet() if not rdds.get(k).rdd().isLocallyCheckpointed()}

    before = persisted_rdds()
    src = str(tmp_path / "src")
    for start in (1_700_000_000, 1_700_000_300):  # two files -> two micro-batches
        weather = synthetic_weather(spark, n_batches=1, start_unix=start)
        weather.coalesce(1).write.mode("append").parquet(src)
    cat = TableCatalog(spark, str(tmp_path / "cat"))
    stream = spark.readStream.schema(weather.schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = streaming_etl(stream, cat, available_now=True, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination()
    assert len(q.recentProgress) >= 2
    q.stop()
    assert cat.read("raw_weather").count() == 20
    assert T._live_scan_caches == []
    assert persisted_rdds() - before == set()
