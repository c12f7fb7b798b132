"""operators/iterate.py::fixpoint — the one convergence loop behind the
graph and connected-components operators: its stop rule, its check
cadence, its round cap, and one Spark job per checked round; and the
graph loops' edge table, built once rather than once per round."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from weatherdatapipeline_spark.operators.dedup import connected_components
from weatherdatapipeline_spark.operators.graph import bfs_distances, minplus_sssp
from weatherdatapipeline_spark.operators.iterate import fixpoint
from weatherdatapipeline_spark.operators.text import release_scoped


def _run(spark, max_rounds, check_every=1, group="fixpoint-test"):
    """Toy monotone step on a one-row state: v -> min(v + 1, 3), from 0.
    Returns (final v, converged, rounds stepped, jobs started)."""
    rounds = []

    def step(df, r):
        rounds.append(r)
        return df.select(F.least(F.col("v") + 1, F.lit(3)).alias("v"))

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        state, converged = fixpoint(
            spark.range(1).select(F.lit(0).alias("v")), step, max_rounds, check_every
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return state.first()["v"], converged, rounds, jobs


def test_fixpoint_stops_at_first_unchanged_round(spark):
    # v: 0 -> 1 -> 2 -> 3 -> 3: round 4 is the first that changes nothing
    v, converged, rounds, jobs = _run(spark, 10, group="fixpoint-every-1")
    assert (v, converged, rounds) == (3, True, [1, 2, 3, 4])
    # one job signs the initial state, then exactly one per checked round
    assert jobs == 1 + 4


def test_fixpoint_check_every_stops_only_on_check_rounds(spark):
    # checks at rounds 2 (v=2), 4 (v=3), 6 (v=3): round 6 matches round 4
    v, converged, rounds, jobs = _run(spark, 10, check_every=2, group="fixpoint-every-2")
    assert (v, converged, rounds) == (3, True, [1, 2, 3, 4, 5, 6])
    # unchecked rounds stay lazy: no job of their own
    assert jobs == 1 + 3


def test_fixpoint_reports_unconverged_at_cap(spark):
    v, converged, rounds, _ = _run(spark, 2, group="fixpoint-cap")
    assert (v, converged, rounds) == (2, False, [1, 2])


def test_connected_components_raises_when_cap_exhausted(spark):
    # a 30-node chain needs 29 label-propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=25)


def _graph_jobs(spark, op, edges, rounds, group):
    """Jobs one ``op`` call on a 13-node chain from node 0 starts, with
    ``rounds`` rounds (fewer than the chain needs, so every round runs)."""
    seeds = spark.createDataFrame([(0,)], "node long")
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        assert op(edges, seeds, rounds).count() == rounds + 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        # each call builds its edge table afresh, as in its own query build
        release_scoped()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("op", [minplus_sssp, bfs_distances])
def test_graph_loop_rounds_do_not_rerun_the_edge_plan(spark, op):
    """A round costs the same jobs whether the caller's edge plan is a flat
    relation or sits behind an aggregate (a shuffle of its own): the
    symmetrized edge table is materialized once, before the loop, and no
    round re-runs the caller's plan."""
    flat = spark.createDataFrame([(i, i + 1, 1) for i in range(12)], "a long, b long, w long")
    shuffled = flat.union(flat).groupBy("a", "b").agg(F.min("w").alias("w"))
    per_round = {}
    for name, edges in (("flat", flat), ("shuffled", shuffled)):
        two, six = (
            _graph_jobs(spark, op, edges, r, f"{op.__name__}-{name}-{r}") for r in (2, 6)
        )
        per_round[name] = (six - two) / 4
    assert per_round["shuffled"] == per_round["flat"]
