"""Delta-style upsert table: MERGE / time travel / partition-scoped rewrite.

The scalable claim under test: a merge touching partition A must NOT
rewrite partition B's files — B is carried by manifest reference.
"""

from __future__ import annotations

import os

import pytest

from weatherdatapipeline_spark.sources.upsert import UpsertTable


def _rows(df):
    return {tuple(r) for r in df.select(*sorted(df.columns)).collect()}


@pytest.fixture()
def table(spark, tmp_path):
    return UpsertTable(spark, str(tmp_path), "t", key="id", partition_col="day")


def _df(spark, rows):
    return spark.createDataFrame(rows, "id INT, day STRING, val STRING")


def test_merge_upsert_semantics(spark, table):
    table.merge(_df(spark, [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c")]))
    # update id=2, insert id=4 (same partition), leave d2 alone
    v = table.merge(_df(spark, [(2, "d1", "B"), (4, "d1", "d")]))
    assert v == 1
    assert _rows(table.read()) == {
        ("d1", 1, "a"),
        ("d1", 2, "B"),
        ("d1", 4, "d"),
        ("d2", 3, "c"),
    }


def test_untouched_partition_not_rewritten(spark, table):
    table.merge(_df(spark, [(1, "d1", "a"), (3, "d2", "c")]))
    table.merge(_df(spark, [(1, "d1", "A")]))
    manifest = table._manifest()
    assert manifest == {"d1": 1, "d2": 0}  # d2 still points at v0
    assert not os.path.isdir(
        os.path.join(table.data_root, "v=1", "day=d2")
    ), "merge rewrote an untouched partition"


def test_same_key_other_partition_is_distinct_row(spark, table):
    table.merge(_df(spark, [(1, "d1", "a"), (1, "d2", "x")]))
    table.merge(_df(spark, [(1, "d1", "A")]))
    assert _rows(table.read()) == {("d1", 1, "A"), ("d2", 1, "x")}


def test_time_travel_and_vacuum(spark, table):
    table.merge(_df(spark, [(1, "d1", "a")]))
    table.merge(_df(spark, [(1, "d1", "A"), (2, "d2", "b")]))
    assert _rows(table.read(version=0)) == {("d1", 1, "a")}
    assert _rows(table.read()) == {("d1", 1, "A"), ("d2", 2, "b")}
    removed = table.vacuum(keep_last=1)
    assert removed == [0]
    assert _rows(table.read()) == {("d1", 1, "A"), ("d2", 2, "b")}
    with pytest.raises(ValueError):
        table.read(version=0)


def test_vacuum_keeps_referenced_old_dirs(spark, table):
    table.merge(_df(spark, [(1, "d1", "a"), (2, "d2", "b")]))
    table.merge(_df(spark, [(1, "d1", "A")]))  # d2 still lives in v=0
    assert table.vacuum(keep_last=1) == []
    assert os.path.isdir(os.path.join(table.data_root, "v=0", "day=d2"))
    assert _rows(table.read()) == {("d1", 1, "A"), ("d2", 2, "b")}


def test_unpartitioned_merge(spark, tmp_path):
    t = UpsertTable(spark, str(tmp_path), "u", key="id")
    df = lambda rows: spark.createDataFrame(rows, "id INT, val STRING")
    t.merge(df([(1, "a"), (2, "b")]))
    t.merge(df([(2, "B"), (3, "c")]))
    assert _rows(t.read()) == {(1, "a"), (2, "B"), (3, "c")}


def test_read_changes_cdf(spark, table):
    table.merge(_df(spark, [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c")]))
    table.merge(_df(spark, [(2, "d1", "B"), (4, "d1", "d"), (3, "d2", "c")]))
    changes = table.read_changes(since_version=0)
    got = {(r["id"], r["_change_type"]) for r in changes.collect()}
    # 2 updated, 4 inserted; 3 re-merged byte-identical -> NOT a change;
    # 1 untouched -> absent
    assert got == {(2, "update_postimage"), (4, "insert")}


def test_read_changes_empty_when_nothing_moved(spark, table):
    table.merge(_df(spark, [(1, "d1", "a")]))
    assert table.read_changes(since_version=0).count() == 0


def test_read_changes_scopes_to_moved_partitions(spark, table):
    table.merge(_df(spark, [(1, "d1", "a"), (3, "d2", "c")]))
    table.merge(_df(spark, [(1, "d1", "A")]))
    changes = table.read_changes(since_version=0)
    assert {(r["id"], r["day"], r["_change_type"]) for r in changes.collect()} == {
        (1, "d1", "update_postimage")
    }


def test_read_changes_null_rows_not_phantom_updates(spark, table):
    """Re-merging byte-identical NULL-bearing rows CDFs to empty.

    Regression: the unchanged-row subtraction used null-unsafe equality, so
    a carried-forward row with a NULL in any common column never matched
    its identical pre-image and was reported as update_postimage forever.
    """
    rows = [(1, "d1", None), (2, "d1", "b"), (3, "d1", None)]
    table.merge(_df(spark, rows))
    table.merge(_df(spark, rows))  # identical re-merge, NULLs included
    assert table.read_changes(since_version=0).count() == 0
    # a real update on a NULL-bearing row still surfaces
    table.merge(_df(spark, [(1, "d1", "now-set"), (3, "d1", None)]))
    got = {(r["id"], r["_change_type"]) for r in table.read_changes(1).collect()}
    assert got == {(1, "update_postimage")}


def test_schema_evolution_merge(spark, table):
    table.merge(_df(spark, [(1, "d1", "a"), (3, "d2", "c")]))
    evolved = spark.createDataFrame(
        [(2, "d1", "b", 0.9)], "id INT, day STRING, val STRING, score DOUBLE"
    )
    with pytest.raises(Exception):  # strict by default
        table.merge(evolved)
    table.merge(evolved, schema_evolution=True)
    got = {(r["day"], r["id"], r["val"], r["score"]) for r in table.read().collect()}
    # kept row in rewritten d1 and carried-forward d2 both read NULL score
    assert got == {("d1", 1, "a", None), ("d1", 2, "b", 0.9), ("d2", 3, "c", None)}


def test_read_changes_unpartitioned(spark, tmp_path):
    t = UpsertTable(spark, str(tmp_path), "u2", key="id")
    df = lambda rows: spark.createDataFrame(rows, "id INT, val STRING")
    t.merge(df([(1, "a"), (2, "b")]))
    t.merge(df([(2, "B"), (3, "c"), (1, "a")]))  # 1 re-merged identical
    got = {(r["id"], r["_change_type"]) for r in t.read_changes(0).collect()}
    assert got == {(2, "update_postimage"), (3, "insert")}


def test_maintain_daily_rollup_equals_recompute(spark, tmp_path):
    """Three batches folded incrementally must equal the direct rollup
    over the concatenated raw data (the materialized-view invariant),
    and a batch touching one key must not rewrite other keys' rows."""
    import datetime as dt

    from weatherdatapipeline_spark.sources.upsert import UpsertTable, maintain_daily_rollup

    t0 = dt.datetime(2024, 3, 1, 10, 0)
    mk = lambda rows: spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double"
    )
    b1 = mk([("a", t0, 10.0), ("a", t0 + dt.timedelta(hours=1), 20.0), ("b", t0, 5.0)])
    b2 = mk([("a", t0 + dt.timedelta(days=1), 7.0), ("b", t0, 1.0)])
    b3 = mk([("a", t0, 100.0)])

    table = UpsertTable(spark, str(tmp_path), "rollup", key="rollup_key",
                        partition_col="k")
    for b in (b1, b2, b3):
        maintain_daily_rollup(table, b)

    got = {r["rollup_key"]: r for r in table.read().collect()}
    raw = b1.unionByName(b2).unionByName(b3)
    from pyspark.sql import functions as F

    want = {
        r["rollup_key"]: r
        for r in raw.groupBy(
            F.col("event_type").alias("k"),
            F.date_format(F.date_trunc("DAY", "ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .withColumn("rollup_key", F.concat_ws("|", "k", "day"))
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        for c in ("n", "sum_value", "min_value", "max_value"):
            assert got[k][c] == want[k][c], (k, c)
    # b3 touched only a|2024-03-01; the untouched b-key row must still
    # carry the b1+b2 combination (merge is key-scoped, not a rewrite)
    assert got["b|2024-03-01"]["n"] == 2 and got["b|2024-03-01"]["sum_value"] == 6.0


def test_merge_optimistic_concurrency_conflict(spark, tmp_path):
    """Delta/Iceberg-style optimistic concurrency: a merge pinned to the
    reader's snapshot version must fail if another writer committed in
    between, and succeed after refreshing — last-commit-wins only when
    the caller opts out."""
    import pytest as _pytest

    from weatherdatapipeline_spark.sources.upsert import (
        ConcurrentWriteError,
        UpsertTable,
    )

    t = UpsertTable(spark, str(tmp_path / "occ"), "occ", key="k")
    t.merge(spark.createDataFrame([(1, "a")], "k LONG, v STRING"))
    seen = t.current_version

    # writer B sneaks in a commit
    t.merge(spark.createDataFrame([(2, "b")], "k LONG, v STRING"))

    # writer A, still holding the old snapshot version, must conflict
    upd = spark.createDataFrame([(1, "a2")], "k LONG, v STRING")
    with _pytest.raises(ConcurrentWriteError):
        t.merge(upd, expected_version=seen)

    # CAS retry against the refreshed version succeeds
    v = t.merge(upd, expected_version=t.current_version)
    assert v == t.current_version
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: "a2", 2: "b"}
