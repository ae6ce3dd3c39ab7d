"""Dynamic keyed groups: per-key members created/removed by control streams.

Reference: ``dynamic_group(_with_store)`` (/root/reference/crates/wingfoil/
src/interp.rs:3901-4047) — a keyed collection of per-key sub-graphs where
``add``/``del`` key streams create/remove members at cycle boundaries and a
per-cycle fold combines ticked members into one output; ``demux_map``'s
``Close`` event (interp.rs:4145-4168, DemuxEvent 4273) releases a key slot
the same way.

Spark-native shape: membership is *state*, not topology. The add/del
control streams merge into the keyed data stream as tagged control rows;
a per-key pass (packed Arrow batches, parallel across keys) toggles
membership and folds member values:

- ``add`` creates a FRESH member accumulator (the reference builds a new
  sub-graph per added key — state does not survive re-add);
- ``del`` removes the member (its ticks are ignored until re-added);
- data ticks while member fold and emit; while non-member they are dropped.

The reference's per-cycle *group fold* over member outputs is downstream
composition here — e.g. the running global sum of per-key deltas
(`dynamic_group_sum` in the driver contract) or any windowed agg over the
member output stream.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wingfoil_spark.stream import Stream
from wingfoil_spark.streaming.stateful import group_key, lift


def dynamic_group(
    data: Stream,
    add: Stream,
    remove: Stream,
    col: str,
    fold_fn: Callable[[float, float], float] = lambda acc, v: acc + v,
    init: float = 0.0,
    out: str = "member_acc",
    member_from_start: bool = False,
) -> Stream:
    """Fold ``col`` per key while the key is a live member.

    ``add``/``remove`` carry (keys, ts[, seq]) control ticks. Emission: one
    row per member data tick with the member's running accumulator. Same
    keys required on all three streams. Control ties at one instant apply
    control-first (membership changes at cycle START — the reference's
    cycle-boundary mutation contract, interp.rs:3244).
    """
    if data.keys != add.keys or data.keys != remove.keys:
        raise ValueError("dynamic_group requires equal keys on all streams")
    keys, ts_col = list(data.keys), data.ts
    vals_t = (col,)

    def ctl(s: Stream, tag: int):
        return s.df.select(
            *keys,
            F.col(s.ts).alias("__t"),
            F.lit(tag).alias("__tag"),
            F.lit(None).cast(data.df.schema[col].dataType).alias(col),
            (F.col(s.seq) if s.seq else F.lit(0)).cast("long").alias("__seq"),
        )

    src = data.df.select(
        *keys,
        F.col(data.ts).alias("__t"),
        F.lit(2).alias("__tag"),
        F.col(col),
        (F.col(data.seq) if data.seq else F.lit(0)).cast("long").alias("__seq"),
    )
    # tag order inside an instant: add(0) → del(1) → data(2)
    u = ctl(add, 0).unionByName(ctl(remove, 1)).unionByName(src)
    merged = Stream(u, ts="__t", seq=None, keys=tuple(keys))

    schema = T.StructType(
        [data.df.schema[k] for k in keys]
        + [
            T.StructField(ts_col, T.LongType()),
            T.StructField(col, T.DoubleType()),
            T.StructField(out, T.DoubleType()),
        ]
    )
    start_member = bool(member_from_start)

    def step(_, pdf: pd.DataFrame):
        pdf = pdf.sort_values(["__t", "__tag", "__seq"], kind="mergesort")
        member, acc = start_member, init
        t_arr = pdf["__t"].to_numpy()
        tag_arr = pdf["__tag"].to_numpy()
        v_arr = pdf[col].to_numpy(dtype=np.float64)
        rows = []
        for i in range(len(pdf)):
            tag = tag_arr[i]
            if tag == 0:          # add: fresh member state
                member, acc = True, init
            elif tag == 1:        # del: drop member
                member = False
            elif member:
                acc = fold_fn(acc, float(v_arr[i]))
                rows.append((int(t_arr[i]), float(v_arr[i]), acc))
        keyvals = group_key(pdf, keys)
        return None, pd.DataFrame(
            [(*keyvals, t, v, a) for t, v, a in rows],
            columns=[*keys, ts_col, col, out],
        )

    # packed binding: one Arrow round-trip per batch of whole key groups,
    # not one per key (round-1 showed per-key applyInPandas ~4× slower
    # with thousands of small keys)
    from wingfoil_spark.operators.stateful import _apply_per_key_reshape

    out_df = _apply_per_key_reshape(merged, lift(step, keys, None), schema)
    return Stream(out_df, ts=ts_col, seq=None, keys=tuple(keys))
