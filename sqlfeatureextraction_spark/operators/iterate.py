"""One fixed-point driver for the iterative operators.

A round is ONE Spark action: an eager ``localCheckpoint`` of the step's
frame, during which an ``Observation`` counts the rows still pending.
The checkpoint cuts the lineage, so round k's plan never nests rounds
1..k-1 (nested plans make Catalyst's plan handling exponential in the
round count); its blocks are not fault-tolerant on a real cluster, and
every frame iterated here is narrow.  ``graphrank.pagerank`` keeps its
own loop: a fixed ``n_iter`` with no pending set, which its DuckDB
oracle replays exactly.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def fixed_point(
    frame: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    pending: Column,
    max_rounds: int,
) -> tuple[DataFrame, int, int | None]:
    """Replace ``frame`` by the checkpointed ``step(frame)`` until no
    row satisfies ``pending`` or ``max_rounds`` rounds have run.

    Returns (last frame, rounds run, pending count of the last round);
    with ``max_rounds < 1`` the input comes back with count None.  What
    a non-zero final count means is the caller's to decide.
    """
    rounds, n_pending = 0, None
    while rounds < max_rounds and n_pending != 0:
        obs = Observation()
        frame = (
            step(frame)
            .observe(obs, F.count_if(pending).alias("n"))
            .localCheckpoint(eager=True)
        )
        rounds += 1
        n_pending = obs.get["n"]
    return frame, rounds, n_pending
