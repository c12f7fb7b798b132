"""The convergence loop shared by every iterate-to-fixpoint operator
(connected components, BFS, min-plus SSSP, k-core, k-truss peeling).

``fixpoint`` owns the loop mechanics so each operator states only its
step and what reaching the round cap means for its result:

- **Lineage.** Every round's output is ``localCheckpoint``-ed (lazily),
  so the plan of round r reads round r-1's blocks instead of embedding
  r copies of the step. A step that references its input several times
  would otherwise grow its logical plan geometrically.
- **Convergence.** A state's signature is its row count plus the
  ``bit_xor`` of ``xxhash64`` over all columns: order-independent and
  overflow-free. It is read through an ``observe`` on a ``noop`` write,
  which is ONE job with no shuffle, and that job is also the one that
  materializes the round's checkpoint. A plain ``agg`` would add an
  adaptive-execution map-stage job per check.
- **Stop rule.** The loop stops at the first checked round whose
  signature equals the previous check's (the initial state is signed the
  same way). The steps ported here are deterministic functions of their
  state, so an unchanged state is a fixpoint and a further round is a
  no-op.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _signature(df: DataFrame) -> tuple:
    obs = Observation()
    df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("h"),
    ).write.format("noop").mode("overwrite").save()
    m = obs.get
    return (m["n"], m["h"])


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_rounds: int,
    check_every: int = 1,
) -> tuple[DataFrame, bool]:
    """Run ``state = step(state, r)`` for r = 1..``max_rounds``, checking
    for an unchanged signature on every ``check_every``-th round.

    Returns ``(state, converged)``: the first checked state equal to the
    previous check's, with ``converged=True``, or the state after
    ``max_rounds`` with ``converged=False``. The caller decides what an
    unconverged state means (raise, or accept it as a bounded result).
    ``check_every=k`` is sound only for a step whose non-fixpoint rounds
    can never return to an earlier state within k rounds."""
    state = state.localCheckpoint(eager=False)
    prev = _signature(state)
    for r in range(1, max_rounds + 1):
        state = step(state, r).localCheckpoint(eager=False)
        if r % check_every == 0:
            cur = _signature(state)
            if cur == prev:
                return state, True
            prev = cur
    return state, False
