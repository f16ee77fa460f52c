"""Generic iterate-to-fixpoint operators — the Spark stand-in for
``WITH RECURSIVE`` (SURVEY §2.2 subqueries row; SQLite exposes
recursive CTEs via its parser, ``third_party/sqlite3/sqlite3.h``
window/CTE surface).

Spark has no recursive-plan node, so recursion becomes driver-side
iteration over frozen DataFrames (``staging.freeze``). Two shapes
cover the SQL semantics:

- ``iterate_fixpoint``: recursion as repeated WHOLE-STATE
  transformation (label propagation, PageRank-style updates). The
  step emits a ``__changed`` flag column; the loop truncates lineage
  per iteration (``freeze``) and does an O(1) driver check —
  never a data collect. The connected-components operator
  (dedup/embedding.py) is this loop with a two-join step.

- ``recursive_closure``: ``WITH RECURSIVE ... UNION`` semantics by
  SEMI-NAIVE evaluation: keep an accumulator and a frontier; each
  round expands ONLY the frontier, subtracts what's already known
  (UNION-distinct), and stops on an empty frontier. At 100 TB the
  frontier is the working set — expanding the accumulator every round
  (naive evaluation) would be quadratic in depth; semi-naive is the
  textbook Datalog fix and each round is one equi-join + one
  distinct-subtract shuffle.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_lens_spark.operators.staging import freeze

CHANGED_COL = "__changed"


def iterate_fixpoint(
    initial: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_iter: int = 30,
) -> DataFrame:
    """Apply ``step`` repeatedly until it reports no change.

    ``step`` takes the current state and returns the next state with
    one extra boolean column ``__changed`` (per-row change flag; any
    true row keeps iterating). State is frozen every iteration so
    lineage stays O(1) deep, and the convergence check is
    a ``limit(1).count()`` — O(1) rows to the driver regardless of
    state size.
    """
    state = freeze(initial, "bounded loop lineage")
    for _ in range(max_iter):
        nxt = freeze(step(state), "bounded loop lineage")
        changed = nxt.filter(F.col(CHANGED_COL)).limit(1).count()
        state = nxt.drop(CHANGED_COL)
        if changed == 0:
            break
    return state


def recursive_closure(
    base: DataFrame,
    expand: Callable[[DataFrame], DataFrame],
    max_iter: int = 50,
) -> DataFrame:
    """``WITH RECURSIVE x AS (base UNION expand(x))`` — the
    UNION-distinct fixpoint, evaluated semi-naively.

    ``expand`` maps a FRONTIER (rows discovered last round, same
    schema as ``base``) to candidate new rows; rows already in the
    accumulator are subtracted before they re-enter the frontier, so
    cyclic graphs terminate. Returns the accumulated distinct rows.
    Raises if ``max_iter`` rounds don't converge (a recursion depth
    guard, like the engines' own).
    """
    acc = freeze(base.distinct(), "bounded loop lineage")
    frontier = acc
    for _ in range(max_iter):
        new = (
            expand(frontier)
            .subtract(acc)  # EXCEPT DISTINCT: dedup + already-known
            .transform(freeze, "bounded loop lineage")
        )
        if new.limit(1).count() == 0:
            return acc
        acc = freeze(acc.unionByName(new), "bounded loop lineage")
        frontier = new
    raise RuntimeError(
        f"recursive_closure did not converge in {max_iter} iterations"
    )
