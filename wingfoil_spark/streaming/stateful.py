"""Run-mode duality: the same stateful operator runs batch (historical
replay) and streaming (realtime) with identical semantics.

This is the reference's single most important property — one wired graph
executes under ``RunMode::HistoricalFrom`` or ``RunMode::RealTime``
unchanged (/root/reference/crates/wingfoil/src/runtime/run.rs:16-29;
docs/wingfoil-architecture.md:11-26). The Spark-native expression:

- an operator's semantics live in ONE pure step function
  ``step(state, pdf) -> (state', out_pdf)`` over time-ordered per-key rows
  (the reference's ``Op::cycle`` with engine-owned state, op.rs:296-333 —
  batched rather than per-tick, because Arrow batches are Spark's unit);
- **historical** binds it via the packed per-key ``mapInPandas`` binding
  (``operators.stateful._apply_per_key_reshape``: one call per key with
  the whole history, state threads through trivially);
- **realtime** binds the SAME function via ``applyInPandasWithState`` —
  state persists in the state store across micro-batches, keyed identically.

Determinism contract: rows must reach the op in (ts, seq) order within a
key. The batch binding sorts within partitions by (keys, ts, seq); the
streaming binding puts each batch in that order with :func:`in_order`
(a no-op on the usual already-ordered input); streaming mode otherwise
relies on in-order sources per key (Kafka per-partition order, file-source
file order) — out-of-order data across micro-batches needs an upstream
watermark-sort stage, which the reference simply forbids (non-decreasing
source timestamps, adapters/csv.rs:110-115).
"""

from __future__ import annotations

import pickle
from collections.abc import Callable
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

StepFn = Callable[[Any, pd.DataFrame], tuple[Any, pd.DataFrame]]


def in_order(pdf: pd.DataFrame, order: list[str]) -> pd.DataFrame:
    """``pdf.sort_values(order, kind="mergesort")`` — same rows, same index —
    without the sort when ``pdf`` is already in ``order``: then ``pdf``
    itself comes back. Rows usually reach a key's binding sorted (the
    packed batch binding sorts within partitions, file sources deliver a
    key's rows in order; on the ``event_stream`` benchmark ~9 groups in
    10), and always reach its step sorted, so per-group cost is mostly one
    vectorised comparison instead of a pandas multi-column sort per
    binding and per step."""
    if len(pdf) < 2 or _is_ordered(pdf, order):
        return pdf
    return pdf.sort_values(order, kind="mergesort")


def _is_ordered(pdf: pd.DataFrame, order: list[str]) -> bool:
    """Whether adjacent rows are non-decreasing in ``order``, compared
    column by column. Only numeric and datetime columns are compared (an
    object column may hold None); NaN/NaT compare false, so a frame holding
    them is never reported ordered."""
    tied = None  # adjacent pairs equal on every column so far
    for c in order:
        a = pdf[c].to_numpy()
        if a.dtype.kind not in "iubfmM":
            return False
        le = a[:-1] <= a[1:]
        if not (le if tied is None else le | ~tied).all():
            return False
        eq = a[:-1] == a[1:]
        tied = eq if tied is None else tied & eq
    return True


def group_key(pdf: pd.DataFrame, keys) -> tuple:
    """The key values of a one-key group, each read from its own column.
    (A row read — ``pdf.iloc[0]`` — upcasts to float64 whenever the frame
    mixes int and float columns, which rounds int64 keys above 2**53.)"""
    return tuple(pdf[k].iloc[0] for k in keys) if len(pdf) else ()


class KeyedStateOp:
    """A stateful per-key operator defined once, runnable in both modes.

    ``step`` must be pure in (state, sorted-batch) — it is the single source
    of semantics. ``out_schema`` is the full output schema (key columns
    included).
    """

    def __init__(
        self,
        step: StepFn,
        out_schema: T.StructType | str,
        init_state: Any,
        ts: str = "ts",
        seq: str | None = None,
        keys: tuple[str, ...] = (),
        multi_step=None,
    ):
        self.step = step
        self.out_schema = out_schema
        self.init_state = init_state
        self.ts = ts
        self.seq = seq
        self.keys = keys
        #: optional whole-body fast path for run_batch: processes all
        #: complete key groups of a sorted batch in one call (None return
        #: falls back to per-group ``step``); see _apply_per_key_reshape
        self.multi_step = multi_step

    def _order(self) -> list[str]:
        return [self.ts] + ([self.seq] if self.seq else [])

    # ------------------------------------------------------------ historical

    def run_batch(self, df: DataFrame) -> DataFrame:
        """Bind to a batch frame via the packed per-key binding: whole key
        groups per Arrow batch, one Python round-trip per batch instead of
        per key (per-group applyInPandas pays Arrow overhead × |keys| —
        ~4× slower with thousands of small instruments). The binding
        hands ``step`` each key's rows already in (ts, seq) order."""
        from wingfoil_spark.operators.stateful import _apply_per_key_reshape
        from wingfoil_spark.stream import Stream

        step, init = self.step, self.init_state
        schema = self.out_schema
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        names = schema.fieldNames()

        def fn(pdf: pd.DataFrame) -> pd.DataFrame:
            _, out = step(init, pdf)
            if len(out.columns) == 0:  # e.g. a close-only batch (with_close)
                out = pd.DataFrame({c: [] for c in names})
            return out

        s = Stream(df, ts=self.ts, seq=self.seq, keys=self.keys)
        return _apply_per_key_reshape(s, fn, schema, fn_multi=self.multi_step)

    # -------------------------------------------------------------- realtime

    def run_stream(
        self,
        df: DataFrame,
        timeout: str = "NoTimeout",
        idle_timeout_ms: int | None = None,
    ) -> DataFrame:
        """Bind to a streaming DataFrame via applyInPandasWithState. State is
        pickled into a single binary state column — opaque to Spark, owned by
        the state store (the engine-owned per-node state model).

        Slot lifecycle (the reference's ``demux_map`` capacity/Close model,
        interp.rs:4145-4168, DemuxEvent :4273): a step that returns ``None``
        state releases the key's slot — the state-store entry is REMOVED, so
        a later tick re-creates the member fresh (see :func:`with_close`).
        ``idle_timeout_ms`` additionally reaps keys with no traffic (pass
        ``timeout="ProcessingTimeTimeout"``) — the bounded-capacity analog:
        state volume tracks live keys, not ever-seen keys."""
        step, init, order = self.step, self.init_state, self._order()

        def fn(key, pdfs, state: GroupState):
            if timeout != "NoTimeout" and state.hasTimedOut:
                state.remove()  # idle slot reaped
                return
            if state.exists:
                (blob,) = state.get
                st = pickle.loads(bytes(blob))
            else:
                st = init
            for pdf in pdfs:
                st, out = step(st, in_order(pdf, order))
                if len(out):
                    yield out
            if st is None:
                if state.exists:
                    state.remove()  # Close: release the slot
            else:
                state.update((bytearray(pickle.dumps(st)),))
                if idle_timeout_ms is not None:
                    state.setTimeoutDuration(idle_timeout_ms)

        return df.groupBy(*self.keys).applyInPandasWithState(
            fn,
            outputStructType=self.out_schema,
            stateStructType="state binary",
            outputMode="append",
            timeoutConf=getattr(GroupStateTimeout, timeout),
        )


def with_close(step: StepFn, close_col: str, init_state) -> StepFn:
    """Wrap a step with Close-event slot release (reference ``demux_map``
    Close, interp.rs:4145-4168): rows where ``close_col`` is truthy split
    the batch — state resets to ``init_state`` at each close (the slot is
    re-created fresh on the next data tick), and a trailing close returns
    ``None`` state so :meth:`KeyedStateOp.run_stream` removes the
    state-store entry entirely. Close rows themselves emit nothing.
    Works identically under run_batch (one big batch) and run_stream."""

    def step2(state, pdf: pd.DataFrame):
        closes = pdf[close_col].to_numpy()
        outs = []
        st = state
        start = 0
        idx = list(np.flatnonzero(closes)) if len(pdf) else []
        for ci in idx:
            seg = pdf.iloc[start:ci]
            if len(seg):
                st, out = step(st if st is not None else init_state, seg)
                outs.append(out)
            st = None  # slot released; next segment starts fresh
            start = ci + 1
        seg = pdf.iloc[start:]
        if len(seg):
            st, out = step(st if st is not None else init_state, seg)
            outs.append(out)
        # drop empty frames before concat: concatenating empty/all-NA
        # entries is deprecated pandas behavior that would silently change
        # empty-group dtypes in a future release
        outs = [o for o in outs if len(o)]
        merged = (
            pd.concat(outs, ignore_index=True) if outs
            else pd.DataFrame()
        )
        return st, merged

    return step2


# ------------------------------------------------------------ standard steps


def ewma_step(col: str, alpha: float, out: str, passthrough: list[str]) -> StepFn:
    """EWMA as a resumable step: state = (initialised, value).
    Semantics identical to operators.stateful.ewma (ops.rs:904-927)."""

    one_m = 1.0 - alpha

    def step(state, pdf: pd.DataFrame):
        init, value = state
        res = []
        for x in pdf[col].to_numpy(dtype=float):
            if not init:
                value, init = x, True
            else:
                # same float op-order as pandas ewm(adjust=False) and the
                # recursive-CTE oracle: (1-α)·acc + α·x — bitwise equal to
                # the batch operator, not just approximately
                value = one_m * value + alpha * x
            res.append(value)
        out_pdf = pdf[passthrough].copy()
        out_pdf[out] = res
        return (init, value), out_pdf

    return step
