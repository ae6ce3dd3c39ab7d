from wingfoil_spark.streaming.stateful import KeyedStateOp, ewma_step
from wingfoil_spark.streaming.ingest import (
    ann_topk_stream,
    build_ann_index,
    build_lsh_index,
    exact_dedup_stream,
    lsh_pairs_stream,
)

__all__ = [
    "KeyedStateOp",
    "ewma_step",
    "ann_topk_stream",
    "build_ann_index",
    "build_lsh_index",
    "exact_dedup_stream",
    "lsh_pairs_stream",
]
