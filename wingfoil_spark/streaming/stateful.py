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
- both run modes run the step's multi-key walk
  ``walk(states, body) -> (states', out)`` (:func:`pack`) over a body
  sorted by (keys, ts, seq): the native one a :func:`one_key` step
  carries, or the step :func:`lift`-ed to walk the body's key runs;
- **historical** binds the walk via the packed ``mapInPandas`` binding
  (``operators.stateful._apply_per_key_reshape``): one walk call per
  Arrow batch over its complete key runs, a key whose rows span batches
  held back until its run ends (:meth:`KeyedStateOp.run_batch`);
- **realtime** binds the SAME walk via ``applyInPandasWithState``,
  packed by key bucket: one Python call per touched bucket
  (``pmod(xxhash64(keys), B)``, ``B`` = ``spark.sql.shuffle.partitions``
  at build time) walks all of the bucket's keys, and the bucket's one
  state row holds a pickled key → state map
  (:meth:`KeyedStateOp.run_stream`). ``B`` is fixed in the checkpoint: a
  restart under another value raises. A touched bucket's whole map is
  rewritten each micro-batch.

Determinism contract: rows must reach the op in (ts, seq) order within a
key. The batch binding sorts within partitions by (keys, ts, seq); the
streaming binding puts each bucket's micro-batch rows in that order with
:func:`in_order` (stable, so a key's ties keep arrival order); streaming
mode otherwise relies on in-order sources per key (Kafka per-partition
order, file-source file order) — out-of-order data across micro-batches
needs an upstream watermark-sort stage, which the reference simply
forbids (non-decreasing source timestamps, adapters/csv.rs:110-115).
"""

from __future__ import annotations

import pickle
from collections.abc import Callable
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

StepFn = Callable[[Any, pd.DataFrame], tuple[Any, pd.DataFrame]]
#: ``walk(states, body) -> (states', out)``: a body holding many keys,
#: sorted by (keys, ts, seq); ``states`` maps key tuple (:func:`key_runs`)
#: to step state, a missing key starting fresh and a dropped one released
WalkFn = Callable[[dict, pd.DataFrame], tuple[dict, pd.DataFrame]]


def in_order(pdf: pd.DataFrame, order: list[str]) -> pd.DataFrame:
    """``pdf.sort_values(order, kind="mergesort")`` — same rows, same index —
    without the sort when ``pdf`` is already in ``order``: then ``pdf``
    itself comes back. The bindings sort once (the batch binding within
    partitions, the streamed one per bucket body) and steps re-check, so a
    step's cost is mostly one vectorised comparison instead of a pandas
    multi-column sort per step."""
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
    included). Both :meth:`run_batch` and :meth:`run_stream` run the
    step's multi-key walk (:func:`pack`): the native one a :func:`one_key`
    step carries, or the step lifted to walk key runs.
    """

    def __init__(
        self,
        step: StepFn,
        out_schema: T.StructType | str,
        init_state: Any,
        ts: str = "ts",
        seq: str | None = None,
        keys: tuple[str, ...] = (),
    ):
        self.step = step
        self.out_schema = out_schema
        self.init_state = init_state
        self.ts = ts
        self.seq = seq
        self.keys = keys

    def _order(self) -> list[str]:
        return [self.ts] + ([self.seq] if self.seq else [])

    # ------------------------------------------------------------ historical

    def run_batch(self, df: DataFrame) -> DataFrame:
        """Bind to a batch frame via the packed batch binding
        (``operators.stateful._apply_per_key_reshape``): one walk call
        (:func:`pack`) per Arrow batch over the batch's complete key runs,
        in (keys, ts, seq) order — the walk :meth:`run_stream` runs on a
        bucket. A key whose rows span Arrow batches is held back and
        walked once its run ends, so every key is walked whole from
        ``init_state``."""
        from wingfoil_spark.operators.stateful import _apply_per_key_reshape
        from wingfoil_spark.stream import Stream

        schema = self.out_schema
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        s = Stream(df, ts=self.ts, seq=self.seq, keys=self.keys)
        return _apply_per_key_reshape(
            s, pack(self.step, self.keys, self.init_state), schema)

    # -------------------------------------------------------------- realtime

    def run_stream(self, df: DataFrame) -> DataFrame:
        """Bind to a streaming DataFrame via ``applyInPandasWithState``,
        grouped by key BUCKET: ``__bkt = pmod(xxhash64(keys…), B)`` with
        ``B`` = ``spark.sql.shuffle.partitions`` when the query is built.
        One Python call per touched bucket per micro-batch receives all of
        the bucket's rows, puts them in (keys, ts, seq) order once and runs
        the op's multi-key walk (:func:`pack`) over them. The bucket's one
        state row holds ``B`` and a pickled map from key tuple to step
        state — opaque to Spark, owned by the state store (the
        engine-owned per-node state model).

        Trade-off: a touched bucket's whole map is unpickled and rewritten
        every micro-batch, keys that did not tick included; the per-key
        binding this replaces paid one Python call (~2 ms) per key
        instead.

        ``B`` is part of the checkpoint: a restart must run with the same
        ``spark.sql.shuffle.partitions``. Every load checks the stored
        ``B`` and raises naming both values if it differs — rehashed keys
        would otherwise start from empty state without a word.

        Slot lifecycle (the reference's ``demux_map`` capacity/Close model,
        interp.rs:4145-4168, DemuxEvent :4273): a step that returns ``None``
        state releases the key's slot — its map entry is REMOVED, so a
        later tick re-creates the member fresh (see :func:`with_close`); a
        bucket whose map empties drops its state row."""
        nb = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        walk = pack(self.step, self.keys, self.init_state)
        order = [*self.keys, *self._order()]

        def fn(_bucket, pdfs, state: GroupState):
            states = {}
            if state.exists:
                stored, blob = state.get
                if stored != nb:
                    raise RuntimeError(
                        f"KeyedStateOp.run_stream: the checkpoint holds keyed "
                        f"state in {stored} buckets, but this query was built "
                        f"with spark.sql.shuffle.partitions={nb}; restart it "
                        f"with spark.sql.shuffle.partitions={stored}"
                    )
                states = pickle.loads(bytes(blob))
            pdfs = list(pdfs)  # one frame per Arrow batch of the bucket's rows
            body = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
            states, out = walk(states, in_order(body.drop(columns="__bkt"), order))
            if len(out):
                yield out
            if states:
                state.update((nb, bytearray(pickle.dumps(states))))
            elif state.exists:
                state.remove()

        bucket = (F.pmod(F.xxhash64(*self.keys), F.lit(nb)) if self.keys
                  else F.lit(0))
        return df.withColumn("__bkt", bucket).groupBy("__bkt").applyInPandasWithState(
            fn,
            outputStructType=self.out_schema,
            stateStructType="nb int, state binary",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )


def run_starts(body: pd.DataFrame, keys) -> np.ndarray:
    """Start rows of the runs of equal keys in a body clustered by
    ``keys``; NaN keys are equal to each other (a NaN is not equal to
    itself). Keyless: one run."""
    n = len(body)
    new = np.zeros(n, dtype=bool)
    new[:1] = True
    for k in keys:
        a = body[k].to_numpy()
        ne = a[1:] != a[:-1]
        if a.dtype.kind == "f":
            ne &= ~(np.isnan(a[1:]) & np.isnan(a[:-1]))
        new[1:] |= ne
    return np.flatnonzero(new)


def key_tuples(body: pd.DataFrame, keys, rows) -> list[tuple]:
    """The key tuples of ``rows`` of ``body``: Python scalars with NaN read
    as None, so they hash alike in every micro-batch and pickle small."""
    if not keys:
        return [()] * len(rows)
    vals = [body[k].to_numpy()[rows].tolist() for k in keys]
    return [tuple(None if isinstance(v, float) and v != v else v for v in t)
            for t in zip(*vals)]


def key_runs(body: pd.DataFrame, keys) -> tuple[list[tuple], list[int]]:
    """(key tuples, start rows) of the runs of equal keys in a body
    clustered by ``keys`` (:func:`run_starts`, :func:`key_tuples`).
    Keyless: one run, key ``()``."""
    starts = run_starts(body, keys)
    return key_tuples(body, keys, starts), starts.tolist()


def runs(body: pd.DataFrame, keys):
    """(key tuple, first row, end row) of each key run of ``body``
    (:func:`key_runs`)."""
    tuples, starts = key_runs(body, keys)
    return zip(tuples, starts, [*starts[1:], len(body)])


def concat_outs(outs: list[pd.DataFrame]) -> pd.DataFrame:
    """The non-empty frames of ``outs`` as one frame (empty frames poison
    concat dtypes). Frames may still carry all-NA OBJECT columns (an empty
    book side's best_bid) that pandas deprecation-warns about; the Arrow
    serializer coerces every column to the output schema whatever pandas
    infers, so the future inference change cannot alter results —
    suppressed."""
    outs = [o for o in outs if len(o)]
    if len(outs) < 2:
        return outs[0] if outs else pd.DataFrame()
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", FutureWarning)
        return pd.concat(outs, ignore_index=True)


def lift(step: StepFn, keys, init_state) -> WalkFn:
    """The multi-key walk of a one-key ``step``: one ``step`` call per key
    run of the body, threading each key's state through ``states`` (a key
    missing there starts from ``init_state``; a ``None`` return removes
    its entry)."""
    def walk(states: dict, body: pd.DataFrame):
        outs = []
        for k, a, b in runs(body, keys):
            st, out = step(states.get(k, init_state), body.iloc[a:b])
            if st is None:
                states.pop(k, None)
            else:
                states[k] = st
            outs.append(out)
        return states, concat_outs(outs)

    return walk


def one_key(walk: WalkFn, keys, order=()) -> StepFn:
    """The one-key step of a native multi-key ``walk``: the walk run on a
    one-key body (put in ``order`` first), so the op's body exists once.
    ``None`` state starts the key fresh. The step carries the walk as
    ``step.walk`` and its keys as ``step.walk_keys`` for :func:`pack`."""
    def step(state, pdf: pd.DataFrame):
        pdf = in_order(pdf, list(order))
        if not len(pdf):
            return state, walk({}, pdf)[1]
        (k,) = key_tuples(pdf, keys, [0])
        states, out = walk({} if state is None else {k: state}, pdf)
        return states.get(k), out

    step.walk = walk
    step.walk_keys = tuple(keys)
    return step


def pack(step: StepFn, keys, init_state) -> WalkFn:
    """The walk both bindings run (:class:`KeyedStateOp`): the step's own
    multi-key walk when it has one (:func:`one_key`) over the op's keys
    and the op starts keys from ``None``, else the step :func:`lift`-ed."""
    walk = getattr(step, "walk", None)
    if (walk is not None and init_state is None
            and step.walk_keys == tuple(keys)):
        return walk
    return lift(step, keys, init_state)


def with_close(step: StepFn, close_col: str, init_state) -> StepFn:
    """Wrap a step with Close-event slot release (reference ``demux_map``
    Close, interp.rs:4145-4168): rows where ``close_col`` is truthy split
    the batch — state resets to ``init_state`` at each close (the slot is
    re-created fresh on the next data tick), and a trailing close returns
    ``None`` state so :meth:`KeyedStateOp.run_stream` removes the key's
    entry from its bucket's map (other keys in the bucket keep theirs). Close rows themselves emit nothing.
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
        return st, concat_outs(outs)

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
