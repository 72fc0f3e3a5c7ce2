"""Fixpoint driver and the recursive CTE built on it (SURVEY §7.2
"custom" row).

SQLite supports WITH RECURSIVE (gated by a CanRecursive permission in the
reference — pkg/database/database_connection.go:662-663); Spark has no
recursive CTE, so ``recursive_cte`` iterates a DataFrame step under a
depth cap.  It, operators/dedup.connected_components and
operators/graph.graph_k_core all loop through ``fixpoint``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame

DEFAULT_MAX_ITERATIONS = 100


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    max_rounds: int,
    what: str,
) -> Iterator[DataFrame]:
    """Yield ``state = step(state)`` once per round, behind a lazy
    localCheckpoint.  The caller's convergence test is the round's one
    Spark action and writes the checkpoint (under AQE, creating it
    already ran the round's shuffle stages); the caller stops iterating
    when the test passes.  Asking for round ``max_rounds + 1`` raises
    RecursionError, a RuntimeError."""
    for _ in range(max_rounds):
        state = step(state).localCheckpoint(eager=False)
        yield state
    raise RecursionError(f"{what} did not converge within {max_rounds} rounds")


def recursive_cte(
    base: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_iterations: int = DEFAULT_MAX_ITERATIONS,
    distinct: bool = True,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Evaluate WITH RECURSIVE semantics: result = base UNION step(base)
    UNION step(step(base)) ... until no new rows.

    * UNION (distinct=True) matches SQLite's `UNION` recursion: the base
      is deduplicated, and each iteration's new rows are
      ``step(frontier)`` EXCEPT DISTINCT everything seen so far
      (``subtract``, so NULLs compare equal).  The step sees only the
      FRONTIER — the rows new in the previous iteration (semi-naive
      evaluation).
    * distinct=False gives `UNION ALL`: the frontier is ``step(frontier)``.
    * Each frontier is a ``fixpoint`` round whose ``count()`` decides
      emptiness; a step still yielding rows after ``max_iterations``
      iterations raises RecursionError (the depth cap).
    * The result is the union of the materialized frontiers.  Every
      ``checkpoint_every`` iterations that union is compacted into one
      lazy checkpoint, written by the next pass that reads it (the next
      iteration's set-minus; under UNION ALL, the caller's first
      execution).  This bounds the result's plan at
      ``checkpoint_every`` leaves and the set-minus scan at as many
      inputs.

    Scale note: an iteration shuffles the frontier and the rows seen so
    far (for the set-minus), so transitive closures with shallow depth
    (the common case: org charts, BOM graphs) cost depth x one action.
    """
    acc = (base.distinct() if distinct else base).localCheckpoint(eager=False)

    def advance(frontier: DataFrame) -> DataFrame:  # acc as the loop left it
        return step(frontier).subtract(acc) if distinct else step(frontier)

    rounds = fixpoint(acc, advance, max_rounds=max_iterations, what="recursive_cte")
    for i, frontier in enumerate(rounds, 1):
        if frontier.count() == 0:
            return acc
        acc = acc.unionAll(frontier)
        if i % checkpoint_every == 0:
            acc = acc.localCheckpoint(eager=False)
