"""Bounded semi-naive fixpoint: the one loop behind reachableBy, slices, the
type-hierarchy closure, ``call_closure`` and the DSL's transitive steps."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def semi_naive(seed: DataFrame, step: Callable[[DataFrame], DataFrame],
               key: list[str], max_rounds: int) -> DataFrame:
    """Every row reachable from ``seed`` in at most ``max_rounds`` steps.

    ``step(frontier)`` maps frontier rows to candidate rows with ``seed``'s
    columns, at most one per ``key``; the candidates not yet visited are the
    next frontier, and the loop stops at the first round that adds none.
    Returns the visited rows, seed included. Every frame a round builds is
    materialized, so no round re-evaluates an earlier round's plan.
    """
    visited = frontier = seed.localCheckpoint(eager=True)
    for _ in range(max_rounds):
        new = (
            step(frontier)
            .join(visited.select(*key), key, "left_anti")
            .localCheckpoint(eager=True)
        )
        if new.limit(1).count() == 0:
            break
        visited = visited.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    return visited
