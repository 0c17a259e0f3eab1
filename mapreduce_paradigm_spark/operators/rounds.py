"""Driver loops: the one round-by-round mechanism every iterative
operator and query uses.

A round is ``step(state)`` followed by a ``localCheckpoint`` of its
result. The checkpoint is what keeps a loop linear: a round's state
usually feeds its successor twice (the join that produces messages and
the union that keeps the old values), so without it the logical plan,
and Catalyst's work on it, doubles every round, and by round ~10 the
plan string alone exhausts the driver. ``persist`` would not help: it
cuts re-execution, not the plan. The checkpoint makes the previous
state a leaf of the next round's plan.

Two kinds of loop:

- **Convergent** (``done`` given): each round is
  ``step(state).observe(obs, *metrics).localCheckpoint(eager=True)``.
  The eager checkpoint is the round's one action, and the convergence
  metrics ride along with it, so no round submits a separate count or
  aggregate; the driver only ever sees those scalars. After
  ``max_rounds`` rounds without ``done`` the loop raises
  ``ConvergenceError``: a silently unconverged state (a split
  component, a non-core) is worse than a loud failure.
- **Fixed-round** (no ``done``): exactly ``max_rounds`` lazy
  checkpoints and no extra job. Under AQE, building a lazy checkpoint
  still runs the shuffle stages below its final stage.

Fault bound: ``localCheckpoint`` blocks have no lineage, so losing an
executor fails the next action on the result instead of recomputing
it; on a cluster that must survive that, checkpoint to reliable
storage instead. The final round's blocks are not released when the
result is dropped; Spark's ContextCleaner reaps them later.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation


class ConvergenceError(RuntimeError):
    """Iterative algorithm hit its round bound before its fixpoint."""


def observed_checkpoint(df: DataFrame, metrics: Sequence[Column]) -> tuple[DataFrame, dict]:
    """Eagerly checkpoint ``df`` and return it with the named aggregate
    ``metrics`` over its rows, computed by the checkpoint job itself."""
    obs = Observation()
    df = df.observe(obs, *metrics).localCheckpoint(eager=True)
    return df, obs.get


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    *,
    metrics: Sequence[Column] = (),
    done: Callable[[dict, dict, DataFrame, DataFrame], bool] | None = None,
) -> DataFrame:
    """Run ``step`` round by round from ``state`` (see the module doc).

    With ``done``, each round's result is observed with ``metrics`` and
    the loop returns it as soon as ``done(m, prev, new, old)`` holds:
    ``m`` and ``prev`` are this round's and the previous round's metric
    dicts (``prev`` is empty in the first round, whose input was never
    observed), ``new`` and ``old`` the checkpointed result and the
    round's input. Without ``done``, runs exactly ``max_rounds`` rounds.
    """
    if done is None:
        for _ in range(max_rounds):
            state = step(state).localCheckpoint(eager=False)
        return state
    prev: dict = {}
    for _ in range(max_rounds):
        new, m = observed_checkpoint(step(state), metrics)
        if done(m, prev, new, state):
            return new
        state, prev = new, m
    raise ConvergenceError(
        f"{step.__qualname__} reached no fixpoint in {max_rounds} rounds"
    )
