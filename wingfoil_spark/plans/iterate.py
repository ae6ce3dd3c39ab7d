"""Feedback loops: iterative fixpoint computation over DataFrames.

The reference's ``feedback`` edge (fluent.rs:363-368, interp.rs:2173-2245)
keeps the graph acyclic by delivering values sent to a FeedbackSink on a
paired source node one cycle later. Structured Streaming has no cyclic
dataflow, so the Spark-native expression (SURVEY §7 "hard") is batch
iteration: one driver-side loop where each pass is a full distributed
computation and the loop variable is re-fed — "next cycle" = next pass.

Scale mechanics that matter at 100 TB:
- **lineage truncation** every pass (``localCheckpoint``) — without it the
  plan doubles per iteration and the driver dies planning iteration ~20;
- convergence checks are aggregations (one scalar to the driver), never
  ``collect()`` of the data;
- the previous pass's cache is released once the next is materialized.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def feedback_iterate(
    df: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_iters: int = 20,
    converged: Callable[[DataFrame, DataFrame], bool] | None = None,
    eager: bool = True,
) -> DataFrame:
    """Iterate ``step(state_df, i) -> state_df`` to a fixpoint.

    ``converged(prev, cur)`` (optional) stops early; it should compare via
    aggregation (e.g. count of changed rows), not row collection. Returns
    the final state DataFrame (checkpointed — safe to reuse without
    re-running the loop).
    """
    cur = df.localCheckpoint(eager=eager)
    for i in range(max_iters):
        nxt = step(cur, i).localCheckpoint(eager=eager)
        if converged is not None and converged(cur, nxt):
            cur.unpersist()
            return nxt
        cur.unpersist()
        cur = nxt
    return cur


def iterate_until_stable(
    df: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    key_cols: list[str],
    value_cols: list[str],
    max_iters: int = 20,
) -> DataFrame:
    """Convenience fixpoint: stop when no (key, value) row changed between
    passes — the classic label-propagation/transitive-closure shape."""

    def same(prev: DataFrame, cur: DataFrame) -> bool:
        cols = key_cols + value_cols
        return cur.select(*cols).exceptAll(prev.select(*cols)).isEmpty()

    return feedback_iterate(df, step, max_iters=max_iters, converged=same)
