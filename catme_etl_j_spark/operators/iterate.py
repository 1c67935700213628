"""The per-round DataFrame loop, written once: checkpoint cadence and
observed fixpoint probes for the graph and dedup iterations.

Each round joins and aggregates the previous round's state, so the plan
grows by a round per iteration unless a ``localCheckpoint`` truncates it.

* :func:`fixed_rounds` — a fixed number of rounds whose last two states
  feed a convergence audit (pagerank_users, LPA, CC, Katz).
* :func:`until_fixpoint` — rounds that stop once the round's own probe
  (a label sum, an alive count, a level size) reports a fixpoint
  (dedup connected components, s-core peeling, BFS).

Loop rules:

* Under AQE, ``localCheckpoint(eager=False)`` is not lazy: the ``.rdd``
  conversion runs every pending upstream stage at construction, with an
  AQE replan per checkpoint. Only removing real passes moves wall time;
  tuning the cadence barely does.
* A frame with two consumers (the audit's ``prev``, the final state) is
  checkpointed once, or each consumer re-expands its lineage.
* A loop with a provable fixpoint short-circuits: rounds past it are
  never built.
* A probe never schedules a job of its own: it rides the round's
  checkpoint as a ``Dataset.observe`` metric. That checkpoint must be
  EAGER — it is a SQL execution that resolves every observe node in its
  plan, mid-plan ones included, in one job; ``eager=False`` does not run
  the final stage and leaves the metrics empty.
* Probes compare within a round: two steps' sums of monotone integer
  labels that agree prove the first step already reached the fixpoint.

``every=0`` checkpoints nothing; tests use it to pin the untruncated
per-round plan.
"""

from __future__ import annotations

import itertools
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation


def fixed_rounds(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    every: int,
) -> tuple[DataFrame, DataFrame]:
    """Run ``state = step(state, k)`` for k = 1..rounds and return
    ``(final, prev)``, where ``prev`` is the state entering round
    ``rounds``.

    After round k < rounds the state is eagerly checkpointed when
    ``k % every == 0``. The state entering the last round is lazily
    checkpointed unless the cadence just did, and so is the final state.
    """
    prev = state
    for k in range(1, rounds + 1):
        if k == rounds:
            if every and (k - 1) % every:
                state = state.localCheckpoint(eager=False)
            prev = state
        state = step(state, k)
        if every and k < rounds and k % every == 0:
            state = state.localCheckpoint()
    if every:
        state = state.localCheckpoint(eager=False)
    return state, prev


def until_fixpoint(
    state: DataFrame,
    step: Callable[..., DataFrame],
    done: Callable[..., bool],
    max_rounds: int | None = None,
    carry: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
) -> list[tuple[DataFrame, DataFrame]]:
    """Run rounds until the round's observed probe reports a fixpoint,
    or ``max_rounds`` rounds have run.

    ``step(state, k, watch)`` builds round k's frame. It marks each value
    to probe with ``watch(frame, expr)``, which returns ``frame``
    observing the aggregate ``expr``. The frame is materialized by ONE
    eager ``localCheckpoint``, which also resolves every probe; the round
    stops the loop when ``done(*values)`` holds, values in watch order.

    The checkpoint is the next state, unless ``carry(state, checkpoint)``
    is given: then its result, lazily checkpointed, is the next state.

    Returns ``(checkpoint, state)`` for every round run.
    """
    history = []
    for k in range(1, max_rounds + 1) if max_rounds else itertools.count(1):
        probes: list[Observation] = []

        def watch(frame: DataFrame, expr: Column) -> DataFrame:
            probes.append(Observation())
            return frame.observe(probes[-1], expr.alias("v"))

        ckpt = step(state, k, watch).localCheckpoint()
        state = carry(state, ckpt).localCheckpoint(eager=False) if carry else ckpt
        history.append((ckpt, state))
        if done(*(p.get["v"] for p in probes)):
            break
    return history
