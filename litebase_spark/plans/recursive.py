"""Recursive CTE fixpoint helper (SURVEY §7.2 "custom" row).

SQLite supports WITH RECURSIVE (gated by a CanRecursive permission in the
reference — pkg/database/database_connection.go:662-663); Spark has no
recursive CTE, so we provide an iterative DataFrame fixpoint with UNION
(distinct) semantics and a depth cap mirroring the reference's permission
gate.  Each iteration's new rows are materialized once, so the plan of
every iteration — and of the result — stays flat.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

DEFAULT_MAX_ITERATIONS = 100


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
      evaluation).  Hitting ``max_iterations`` raises RecursionError.
    * distinct=False gives `UNION ALL` recursion: the frontier is
      ``step(frontier)`` as is, and the iteration cap is the only
      terminator besides an empty step.
    * Every frontier is materialized once with a lazy localCheckpoint
      whose first pass is the ``count()`` that decides emptiness: one
      Spark action per iteration, no driver collect, and the next step
      starts from blocks instead of re-deriving lineage.
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
    frontier = (base.distinct() if distinct else base).localCheckpoint(eager=False)
    acc = frontier
    for i in range(max_iterations):
        nxt = step(frontier)
        if distinct:
            nxt = nxt.subtract(acc)
        frontier = nxt.localCheckpoint(eager=False)
        if frontier.count() == 0:
            return acc
        acc = acc.unionAll(frontier)
        if (i + 1) % checkpoint_every == 0:
            acc = acc.localCheckpoint(eager=False)
    if distinct:
        raise RecursionError(
            f"recursive_cte did not converge within {max_iterations} "
            "iterations (depth cap — the CanRecursive analog)"
        )
    return acc
