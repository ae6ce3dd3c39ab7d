"""Recursive / stateful per-stream operators (the genuinely non-window ops).

These are the operators whose value at tick n depends on their *own* emitted
state (EWMA's recursion, drop_small_change's last-emitted reference point,
throttle's last-emission timer) — not expressible as SQL window functions.
They run as Arrow-batched ``applyInPandas`` over the stream's keys:
sequential within a key (the recursion demands it — same as the reference's
single-threaded node state), parallel across keys on a cluster.

Reference ops: EWMA family (crates/wingfoil/src/ops.rs:821-951, trait
stats.rs:21-29), drop_small_change (ops.rs:227-262), throttle
(ops.rs:381-414), time-weighted windows (ops.rs:2374-2501), weighted median
(ops.rs:2502-2669). State-ownership model: the engine owns per-node state and
hands it to the op's cycle fn (op.rs:296-333) — here the "state" is the
pandas group, owned by the executor.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wingfoil_spark.stream import Stream
from wingfoil_spark.streaming.stateful import group_key, in_order


def _ewma_hl_kernel(ts: np.ndarray, x: np.ndarray, hl: float) -> np.ndarray:
    """Half-life EWMA recursion, bitwise-identical to the naive per-row walk
    (and so to the recursive-CTE oracle). The r2 per-row numpy-scalar loop
    was the row-at-a-time cost the engine exists to avoid; this dispatches
    to a compiled C loop (scalar libm pow, FP contraction off — the only
    vectorization that preserves the pinned bits; numpy's SIMD ``np.power``
    rounds differently) with a fused math.pow Python walk as the no-compiler
    fallback. See operators/_ckernels.py and test_kernel_bench.py (~40× on
    a 1M-row key)."""
    from wingfoil_spark.operators import _ckernels

    return _ckernels.ewma_hl(
        np.asarray(ts, dtype=np.float64), np.asarray(x, dtype=np.float64), hl
    )


def _apply_per_key(s: Stream, fn, added: list[T.StructField],
                   fn_multi=None) -> Stream:
    """Run ``fn(pdf) -> pdf`` once per key, rows pre-sorted by (ts, seq).

    ``fn_multi(body) -> pdf | None`` (optional): whole-body fast path over
    ALL complete key groups of a sorted, key-clustered batch in one call
    (the op detects group boundaries itself — per-group pandas overhead
    dominates small-key workloads). None return → per-group ``fn``; the
    held trailing key always uses ``fn``.

    Binding: ``repartition(keys) → sortWithinPartitions(keys, ts, seq) →
    mapInPandas`` rather than ``groupBy().applyInPandas`` — one Python
    round-trip per Arrow batch instead of one per key. With many small keys
    (the normal stream shape: thousands of instruments/users) per-group
    Arrow overhead dominates applyInPandas; this packs ~batch_size rows of
    complete groups per call. Key groups spanning batch boundaries are
    carried over inside the partition iterator, so ``fn`` always sees a
    whole key's rows (sorted), exactly like applyInPandas."""
    if s.df.isStreaming:
        # the packed binding carries NO state across micro-batches — on a
        # stream it would silently restart every recursion per batch. The
        # stateful ops auto-rebind to their KeyedStateOp twins before
        # reaching here; anything else must go through KeyedStateOp.
        raise NotImplementedError(
            "per-key pandas binding on a streaming frame: use the "
            "operator's KeyedStateOp twin (streaming/twins.py) — state "
            "must live in the state store, not the batch"
        )
    schema = T.StructType(list(s.df.schema.fields) + added)
    order = [s.ts] + ([s.seq] if s.seq else [])
    keys = list(s.keys)

    if not keys:
        # keyless = one total order = one group (reference single-thread graph)
        def one(pdf: pd.DataFrame) -> pd.DataFrame:
            return fn(in_order(pdf, order))

        out_df = s.df.groupBy(F.lit(1).alias("__g")).applyInPandas(
            lambda p: one(p.drop(columns="__g", errors="ignore")), schema=schema
        )
        return Stream(out_df, ts=s.ts, seq=s.seq, keys=s.keys)

    def per_partition(batches):
        held: pd.DataFrame | None = None
        for pdf in batches:
            if held is not None:
                pdf = pd.concat([held, pdf], ignore_index=True)
                held = None
            if not len(pdf):
                continue
            # rows arrive key-clustered & (ts,seq)-sorted within key
            last_key = tuple(pdf[k].iloc[-1] for k in keys)
            mask_last = np.ones(len(pdf), dtype=bool)
            for k, v in zip(keys, last_key):
                mask_last &= (pdf[k] == v).to_numpy()
            # hold back the (possibly incomplete) trailing key group
            held = pdf.loc[mask_last]
            body = pdf.loc[~mask_last]
            if len(body):
                if fn_multi is not None:
                    whole = fn_multi(body.reset_index(drop=True))
                    if whole is not None:
                        yield whole
                        continue
                out = body.groupby(keys, sort=False, group_keys=False, dropna=False)[
                    body.columns.tolist()
                ].apply(fn)
                yield out
        if held is not None and len(held):
            yield held.groupby(keys, sort=False, group_keys=False, dropna=False)[
                held.columns.tolist()
            ].apply(fn)

    out_df = (
        s.df.repartition(*keys)
        .sortWithinPartitions(*keys, *order)
        .mapInPandas(per_partition, schema=schema)
    )
    return Stream(out_df, ts=s.ts, seq=s.seq, keys=s.keys)


def _apply_per_key_reshape(s: Stream, fn, out_schema: T.StructType,
                           fn_multi=None):
    """Packed per-key binding for RESHAPING ops: like :func:`_apply_per_key`
    (repartition → sortWithinPartitions → mapInPandas, whole key groups per
    Arrow batch) but ``fn(pdf) -> pdf`` returns frames in ``out_schema``
    (its own columns/row count, key columns included) instead of
    input+added. One Python round-trip per batch, not per key — built
    because per-group applyInPandas was ~4× slower with many small keys.

    ``fn_multi(body) -> pdf | None`` (optional): a whole-body fast path
    that processes ALL complete key groups of a sorted, key-clustered
    batch in one call (the op handles group boundaries itself — r4: the
    per-group pandas frame construction cost ~0.7 ms/key, 60× the fold
    for small keys). Returning None falls back to the per-group ``fn``.
    The held (possibly incomplete) trailing key always uses ``fn`` so its
    state carry stays exact."""
    if s.df.isStreaming:
        raise NotImplementedError(
            "per-key pandas binding on a streaming frame: bind the step "
            "through KeyedStateOp.run_stream instead"
        )
    order = [s.ts] + ([s.seq] if s.seq else [])
    keys = list(s.keys)
    out_cols = [f.name for f in out_schema.fields]

    if not keys:
        def one(pdf: pd.DataFrame) -> pd.DataFrame:
            return fn(in_order(pdf, order))[out_cols]

        return s.df.groupBy(F.lit(1).alias("__g")).applyInPandas(
            lambda p: one(p.drop(columns="__g", errors="ignore")), schema=out_schema
        )

    def _concat(outs):
        # empty frames are pre-filtered; frames may still carry all-NA
        # OBJECT columns (e.g. an empty book side's best_bid) which pandas
        # deprecation-warns about. The Arrow serializer coerces every
        # column to out_schema regardless of pandas' inferred dtype, so
        # the future inference change cannot alter results — suppress.
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore", FutureWarning)
            return pd.concat(outs, ignore_index=True)[out_cols]

    def per_partition(batches):
        held: pd.DataFrame | None = None
        for pdf in batches:
            if held is not None:
                pdf = pd.concat([held, pdf], ignore_index=True)
                held = None
            if not len(pdf):
                continue
            last_key = tuple(pdf[k].iloc[-1] for k in keys)
            mask_last = np.ones(len(pdf), dtype=bool)
            for k, v in zip(keys, last_key):
                mask_last &= (pdf[k] == v).to_numpy()
            held = pdf.loc[mask_last]
            body = pdf.loc[~mask_last]
            if len(body):
                if fn_multi is not None:
                    whole = fn_multi(body.reset_index(drop=True))
                    if whole is not None:
                        if len(whole):
                            yield whole[out_cols]
                        continue
                outs = [
                    o for o in (
                        fn(g) for _, g in
                        body.groupby(keys, sort=False, dropna=False)
                    ) if len(o)  # empty frames poison concat dtypes
                ]
                if outs:
                    yield _concat(outs)
        if held is not None and len(held):
            outs = [
                o for o in (
                    fn(g) for _, g in held.groupby(keys, sort=False, dropna=False)
                ) if len(o)
            ]
            if outs:
                yield _concat(outs)

    return (
        s.df.repartition(*keys)
        .sortWithinPartitions(*keys, *order)
        .mapInPandas(per_partition, schema=out_schema)
    )


def _keyed_stream(s: Stream, step, out_schema, init_state=None,
                  seq: str | None = "__default__") -> Stream:
    """Bind a step to a STREAMING frame via KeyedStateOp.run_stream (the
    auto-rebind target for the stateful operators below — r4: calling them
    on a readStream frame previously reached the packed batch binding,
    which carries no state across micro-batches)."""
    from wingfoil_spark.streaming.stateful import KeyedStateOp

    use_seq = s.seq if seq == "__default__" else seq
    op = KeyedStateOp(step, out_schema=out_schema, init_state=init_state,
                      ts=s.ts, seq=use_seq, keys=tuple(s.keys))
    return Stream(op.run_stream(s.df), ts=s.ts, seq=use_seq, keys=s.keys)


def _ewma_hl_step(col: str, hl: float, out: str, passthrough: list[str],
                  ts_col: str):
    """Half-life EWMA as a resumable step — the math.pow walk, bitwise
    equal to the batch kernel's scalar-pow op order (see _ckernels.ewma_hl;
    per-micro-batch row counts are small, so the C kernel is unnecessary).
    State = (initialised, acc, prev_ts)."""
    import math

    def step(state, pdf: pd.DataFrame):
        init, acc, prev_t = state if state else (False, 0.0, 0.0)
        res = []
        for t, x in zip(pdf[ts_col].to_numpy(dtype=np.float64).tolist(),
                        pdf[col].to_numpy(dtype=np.float64).tolist()):
            if not init:
                acc, prev_t, init = x, t, True
            else:
                d = math.pow(0.5, (t - prev_t) / hl)
                acc = d * acc + (1.0 - d) * x
                prev_t = t
            res.append(acc)
        out_pdf = pdf[passthrough].copy()
        out_pdf[out] = res
        return (init, acc, prev_t), out_pdf

    return step


def ewma(
    s: Stream,
    col: str,
    alpha: float | None = None,
    half_life_ns: int | None = None,
    out: str = "ewma",
) -> Stream:
    """Exponentially-weighted moving average.

    ``alpha`` → per-tick decay: s_n = (1-α)·s_{n-1} + α·x_n, seeded s_0 = x_0
    (reference ``ewma_per_tick``, ops.rs:904-927).
    ``half_life_ns`` → time decay: d = 0.5^(Δt/half_life),
    s_n = d·s_{n-1} + (1-d)·x_n (reference ``ewma_half_life``,
    ops.rs:928-951): a burst at Δt=0 leaves the mean at the newest sample's
    recursion with d=1 → unchanged-then-blended consistently.
    """
    if (alpha is None) == (half_life_ns is None):
        raise ValueError("exactly one of alpha / half_life_ns")
    # null value = non-tick (the reference's streams cannot carry nulls;
    # a NaN entering the recursion would poison the accumulator FOREVER,
    # unlike the window stats, which skip nulls per-frame)
    s = s._derive(s.df.where(F.col(col).isNotNull()))

    if s.df.isStreaming:
        from wingfoil_spark.streaming.stateful import ewma_step

        keep = [*s.keys, s.ts, *([s.seq] if s.seq else []), col]
        schema = T.StructType(
            [s.df.schema[c] for c in keep] + [T.StructField(out, T.DoubleType())]
        )
        if alpha is not None:
            return _keyed_stream(s, ewma_step(col, alpha, out, keep), schema,
                                 init_state=(False, 0.0))
        return _keyed_stream(
            s, _ewma_hl_step(col, float(half_life_ns), out, keep, s.ts),
            schema, init_state=(False, 0.0, 0.0),
        )

    return ewma_multi(s, col, {out: {"alpha": alpha}} if alpha is not None
                      else {out: {"half_life_ns": half_life_ns}})


def _grp_flags(pdf: pd.DataFrame, keys) -> np.ndarray:
    """Per-row new-group flags over a key-clustered sorted batch."""
    n = len(pdf)
    g = np.zeros(n, dtype=np.int8)
    for k in keys:
        a = pdf[k].to_numpy()
        g[1:] |= (a[1:] != a[:-1]).astype(np.int8)
    return g


def ewma_multi(s: Stream, col: str, specs: dict[str, dict]) -> Stream:
    """Several EWMA columns in ONE Arrow pass (one sort, one Python stage) —
    the fused form of chained :func:`ewma` calls. ``specs`` maps output
    column → {"alpha": a} or {"half_life_ns": h}.

    Both recursions run the C kernels (plain (1-α)·acc + α·x — the same
    op order as the recursive-CTE oracle and the streaming ewma_step twin
    — and the scalar-pow half-life walk), and the batch binding uses the
    whole-body multi-key path: one kernel call over all complete key
    groups with group-reset flags, bitwise identical to per-key runs."""
    s = s._derive(s.df.where(F.col(col).isNotNull()))  # null = non-tick
    ts_col, vcol = s.ts, col
    items = [(out, p.get("alpha"), p.get("half_life_ns")) for out, p in specs.items()]
    added = [T.StructField(out, T.DoubleType()) for out, _, _ in items]

    if s.df.isStreaming:
        import math

        keep = [*s.keys, s.ts, *([s.seq] if s.seq else []), col]
        schema = T.StructType([s.df.schema[c] for c in keep] + added)

        def step(state, pdf: pd.DataFrame):
            st = dict(state) if state else {}
            out_pdf = pdf[keep].copy()
            ts_l = pdf[ts_col].to_numpy(dtype=np.float64).tolist()
            x_l = pdf[vcol].to_numpy(dtype=np.float64).tolist()
            for out, alpha, hl in items:
                if alpha is not None:
                    init, acc = st.get(out, (False, 0.0))
                    one_m = 1.0 - alpha
                    res = []
                    for x in x_l:
                        if not init:
                            acc, init = x, True
                        else:
                            acc = one_m * acc + alpha * x
                        res.append(acc)
                    st[out] = (init, acc)
                else:
                    init, acc, prev = st.get(out, (False, 0.0, 0.0))
                    hlf = float(hl)
                    res = []
                    for t, x in zip(ts_l, x_l):
                        if not init:
                            acc, prev, init = x, t, True
                        else:
                            d = math.pow(0.5, (t - prev) / hlf)
                            acc = d * acc + (1.0 - d) * x
                            prev = t
                        res.append(acc)
                    st[out] = (init, acc, prev)
                out_pdf[out] = res
            return st, out_pdf

        return _keyed_stream(s, step, schema)

    def _compute(pdf: pd.DataFrame, grp) -> pd.DataFrame:
        from wingfoil_spark.operators import _ckernels

        x = pdf[vcol].to_numpy(dtype=np.float64)
        ts = pdf[ts_col].to_numpy(dtype=np.float64)
        for out, alpha, hl in items:
            if alpha is not None:
                pdf[out] = _ckernels.ewma_alpha(x, float(alpha), grp)
            else:
                pdf[out] = _ckernels.ewma_hl(ts, x, float(hl), grp)
        return pdf

    keys = list(s.keys)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _compute(pdf, None)

    def fn_multi(body: pd.DataFrame):
        return _compute(body, _grp_flags(body, keys)) if keys else None

    return _apply_per_key(s, fn, added, fn_multi=fn_multi)


def drop_small_change(s: Stream, col: str, tol) -> Stream:
    """Suppress ticks while the change versus the last *emitted* value is
    "small" — slow drift still eventually fires (which ``lag`` can't
    express: the reference point is the last emission, not the previous
    tick). Reference: ``drop_small_change`` (fluent.rs:1022,
    ops.rs:227-262).

    ``tol`` is a float threshold (small ⟺ |cur − ref| ≤ tol) or, the
    binding's predicate form (wingfoil-python tests/test_interop.py:68-107),
    a callable ``(cur, prev_emitted) -> bool`` returning whether the
    change is small. Predicate contracts replayed: an equality predicate
    degenerates to ``distinct``; a raising predicate aborts the run; a
    non-bool return is an error naming the contract."""
    if callable(tol):
        pred = tol
        if s.df.isStreaming:
            from wingfoil_spark.streaming.twins import (
                drop_small_change_pred_step,
            )

            return _keyed_stream(
                s,
                drop_small_change_pred_step(col, pred, list(s.keys)),
                s.df.schema,
            )

        def fn(pdf: pd.DataFrame) -> pd.DataFrame:
            x = pdf[col].to_numpy()
            keep = np.zeros(len(x), dtype=bool)
            if len(x):
                keep[0] = True
                ref = x[0]
                for i in range(1, len(x)):
                    small = pred(x[i], ref)
                    if not isinstance(small, (bool, np.bool_)):
                        raise TypeError(
                            "drop_small_change predicate must return a "
                            f"bool, got {type(small).__name__}"
                        )
                    if not small:
                        keep[i] = True
                        ref = x[i]
            return pdf.loc[keep]

        return _apply_per_key(s, fn, [])
    if s.df.isStreaming:
        from wingfoil_spark.streaming.twins import drop_small_change_step

        return _keyed_stream(
            s, drop_small_change_step(col, tol, list(s.keys)), s.df.schema
        )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf[col].to_numpy(dtype=np.float64)
        keep = np.zeros(len(x), dtype=bool)
        if len(x):
            keep[0] = True
            ref = x[0]
            for i in range(1, len(x)):
                if abs(x[i] - ref) > tol:
                    keep[i] = True
                    ref = x[i]
        return pdf.loc[keep]

    return _apply_per_key(s, fn, [])


def throttle_exact(s: Stream, interval_ns: int) -> Stream:
    """Timer-accurate throttle: emit iff ts ≥ last emission + interval.
    Reference ``throttle`` semantics (ops.rs:381-414)."""
    if s.df.isStreaming:
        from wingfoil_spark.streaming.twins import throttle_step

        return _keyed_stream(
            s, throttle_step(interval_ns, s.ts, list(s.keys)), s.df.schema
        )

    ts_col = s.ts

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ts = pdf[ts_col].to_numpy(dtype=np.int64)
        keep = np.zeros(len(ts), dtype=bool)
        next_ok = np.iinfo(np.int64).min
        for i in range(len(ts)):
            if ts[i] >= next_ok:
                keep[i] = True
                next_ok = ts[i] + interval_ns
        return pdf.loc[keep]

    return _apply_per_key(s, fn, [])


def time_windowed_time_weighted(
    s: Stream, col: str, stat: str, window_ns: int, out: str
) -> Stream:
    """Exact time-weighted {mean, var, std} over a trailing duration.

    The step-signal integral over [ts_n - W, ts_n] requires clipping the
    partial interval at the window's left edge — not window-expressible, so
    computed per key with O(n) prefix integrals (cumulative v·w and v²·w,
    searchsorted for the edge). Reference:
    ``time_windowed_*_time_weighted`` (stats.rs:154-162, ops.rs:2374-2501).

    Numeric policy: the integrals accumulate in exact integers (value in
    cents × in-effect µs; Python ints — v²·w exceeds int64) and convert to
    double only for the final division, so the DuckDB oracle (HUGEINT sums
    over the same clipped weights) matches bit-for-bit regardless of
    summation order.
    """

    ts_col = s.ts

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        from wingfoil_spark.operators import _ckernels

        ts = pdf[ts_col].to_numpy(dtype=np.int64)
        v = pdf[col].to_numpy(dtype=np.float64)
        vc = np.rint(v * 100).astype(np.int64)  # exact cents (2-decimal data)
        n = len(ts)
        res = np.empty(n)
        mv = _ckernels.tw_mean_var(ts, vc, v, window_ns) if n else None
        if mv is not None:
            mean_a, var_a = mv
            if stat == "mean":
                res = mean_a
            elif stat == "var":
                res = var_a
            else:
                res = np.sqrt(var_a)
        elif n:
            tsl, vcl = ts.tolist(), vc.tolist()  # python ints: exact, unbounded
            P1 = [0] * (n + 1)
            P2 = [0] * (n + 1)
            for k in range(n - 1):
                w = tsl[k + 1] - tsl[k]
                P1[k + 1] = P1[k] + vcl[k] * w
                P2[k + 1] = P2[k] + vcl[k] * vcl[k] * w
            P1[n] = P1[n - 1]
            P2[n] = P2[n - 1]
            for i in range(n):
                t0 = max(tsl[0], tsl[i] - window_ns)
                j = int(np.searchsorted(ts, t0, side="right")) - 1
                span = tsl[i] - t0
                if span <= 0:
                    res[i] = v[i] if stat == "mean" else 0.0
                    continue
                i1 = P1[i] - (P1[j] + vcl[j] * (t0 - tsl[j]))
                m = float(i1) / float(span * 100)
                if stat == "mean":
                    res[i] = m
                else:
                    i2 = P2[i] - (P2[j] + vcl[j] * vcl[j] * (t0 - tsl[j]))
                    var = max(float(i2) / float(span * 10000) - m * m, 0.0)
                    res[i] = var if stat == "var" else np.sqrt(var)
        pdf[out] = res
        return pdf

    return _apply_per_key(s, fn, [T.StructField(out, T.DoubleType())])


def weighted_median(s: Stream, col: str, wname: str, frame, out: str) -> Stream:
    """Time-weighted median (weight = in-effect time), excluding the current
    sample, seeded to the current value while weightless; exact-half
    crossings average the straddling values. Reference:
    ``*_median_time_weighted`` (stats.rs:177-185, ops.rs:2502-2669;
    crossing rule statistics_time_weighted_median.rs:60-96). Frames:
    ("rows", n) count window, ("cum",) unbounded, ("range", ns) trailing
    duration (sample-retention: a sample is in the window iff its tick time
    is within the trailing span)."""
    s = s._derive(s.df.where(F.col(col).isNotNull()))  # null = non-tick

    rows_n = frame[1] if frame[0] == "rows" else None
    range_ns = frame[1] if frame[0] == "range" else None
    ts_col = s.ts

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        from wingfoil_spark.operators import _ckernels

        v = pdf[col].to_numpy(dtype=np.float64)
        w = pdf[wname].to_numpy(dtype=np.float64)
        ts = pdf[ts_col].to_numpy(dtype=np.int64)
        n = len(v)
        # Fenwick add/remove C kernel: O(n log n) per key for every frame
        # (VERDICT r3 #2 — the per-row argsort walk was O(n·w log w)).
        # Bitwise-equal (integer-weight guard in the wrapper); falls back
        # to the walk for float/negative weights or without a compiler.
        res = _ckernels.tw_median_win(ts, v, w, rows_n=rows_n,
                                      range_ns=range_ns)
        if res is None:
            res = np.empty(n)
            for i in range(n):
                if rows_n is not None:
                    lo = max(0, i - (rows_n - 1))
                elif range_ns is not None:
                    lo = int(np.searchsorted(ts, ts[i] - range_ns, side="left"))
                else:
                    lo = 0
                vv, ww = v[lo:i], w[lo:i]
                mask = ww > 0
                vv, ww = vv[mask], ww[mask]
                res[i] = _weighted_median_select(vv, ww, v[i])
        pdf[out] = res
        return pdf

    dropped = [c for c in s.df.columns if c != wname]
    result = _apply_per_key(s, fn, [T.StructField(out, T.DoubleType())])
    return Stream(result.df.select(*dropped, out), ts=s.ts, seq=s.seq, keys=s.keys)


def _tw_profile_kernel(ts: np.ndarray, v: np.ndarray, window_ns: int):
    """The fused time-weighted kernel over one key's FULL (ts,seq)-sorted
    history: returns (mean, var, median) arrays — trailing-duration clipped
    mean/var (integer-exact integrals) + cumulative weighted median. Shared
    verbatim by the batch operator and the streaming twin
    (streaming/twins.py:tw_profile_step), so run-mode duality is bitwise by
    construction — both modes execute THIS code on the same history."""
    ts = np.asarray(ts, dtype=np.int64)
    v = np.asarray(v, dtype=np.float64)
    vc = np.rint(v * 100).astype(np.int64)
    n = len(ts)
    mean = np.empty(n)
    var = np.empty(n)
    if n == 0:
        return mean, var, np.empty(0)
    # mean/var: C two-pointer sliding-integral kernel (O(n), int64-exact
    # within its guard), falling back to the Python big-int prefix walk
    from wingfoil_spark.operators import _ckernels

    mv = _ckernels.tw_mean_var(ts, vc, v, window_ns)
    if mv is not None:
        mean, var = mv
    else:
        tsl, vcl = ts.tolist(), vc.tolist()
        P1 = [0] * (n + 1)
        P2 = [0] * (n + 1)
        for k in range(n - 1):
            w = tsl[k + 1] - tsl[k]
            P1[k + 1] = P1[k] + vcl[k] * w
            P2[k + 1] = P2[k] + vcl[k] * vcl[k] * w
        for i in range(n):
            t0 = max(tsl[0], tsl[i] - window_ns)
            j = int(np.searchsorted(ts, t0, side="right")) - 1
            span = tsl[i] - t0
            if span <= 0:
                mean[i], var[i] = v[i], 0.0
            else:
                i1 = P1[i] - (P1[j] + vcl[j] * (t0 - tsl[j]))
                m = float(i1) / float(span * 100)
                i2 = P2[i] - (P2[j] + vcl[j] * vcl[j] * (t0 - tsl[j]))
                mean[i] = m
                var[i] = max(float(i2) / float(span * 10000) - m * m, 0.0)

    # cumulative weighted median: C Fenwick kernel (O(n log n) per key,
    # bitwise == the argsort walk — see _ckernels.tw_median_cum), falling
    # back to the per-row argsort walk when no compiler is available
    from wingfoil_spark.operators import _ckernels

    med = _ckernels.tw_median_cum(ts, v)
    if med is None:
        med = np.empty(n)
        wdiff = np.diff(ts).astype(np.float64)
        for i in range(n):
            vv, ww = v[:i], wdiff[:i]
            mask = ww > 0
            vv, ww = vv[mask], ww[mask]
            med[i] = _weighted_median_select(vv, ww, v[i])
    return mean, var, med


def _weighted_median_select(vv: np.ndarray, ww: np.ndarray, seed: float) -> float:
    """The reference's weighted-median crossing rule
    (statistics_time_weighted_median.rs:60-96): sort by value, take the
    value where cumulative weight first reaches half the total; an EXACT
    half crossing averages with the next value; empty (all-zero-weight)
    seeds to the current sample."""
    if len(vv) == 0:
        return float(seed)
    order = np.argsort(vv, kind="mergesort")
    vv, ww = vv[order], ww[order]
    c = np.cumsum(ww)
    half = c[-1] / 2.0
    k = int(np.searchsorted(c, half))
    k = min(k, len(vv) - 1)
    if c[k] == half and k + 1 < len(vv):
        return float((vv[k] + vv[k + 1]) / 2.0)
    return float(vv[k])


def time_weighted_profile(
    s: Stream,
    col: str,
    window_ns: int,
    out_mean: str = "tw_mean",
    out_var: str = "tw_var",
    out_median: str = "tw_median",
) -> Stream:
    """Fused time-weighted profile in ONE Arrow pass per key: trailing-
    duration clipped mean and variance (stats.rs:154-162) plus cumulative
    weighted median (stats.rs:177-185). Chaining the three standalone ops
    costs three repartition+sort+mapInPandas stages; this computes all
    three columns from one sorted pass — the fused form, same semantics
    (numpy-oracle-pinned by tests; integer-exact integrals as in
    :func:`time_windowed_time_weighted`). Kernel shared with the streaming
    twin: :func:`_tw_profile_kernel`."""
    s = s._derive(s.df.where(F.col(col).isNotNull()))  # null = non-tick
    if s.df.isStreaming:
        from wingfoil_spark.streaming.twins import tw_profile_step

        keep = [*s.keys, s.ts, col]
        schema = T.StructType(
            [s.df.schema[c] for c in keep]
            + [T.StructField(c, T.DoubleType())
               for c in (out_mean, out_var, out_median)]
        )
        step = tw_profile_step(col, window_ns, s.ts, list(s.keys),
                               passthrough=keep)
        # twin emits fixed tw_* names; realias to the requested ones
        res = _keyed_stream(s, step, T.StructType(
            [s.df.schema[c] for c in keep]
            + [T.StructField(c, T.DoubleType())
               for c in ("tw_mean", "tw_var", "tw_median")]
        ), seq=None)
        df = res.df
        for src_c, dst in (("tw_mean", out_mean), ("tw_var", out_var),
                           ("tw_median", out_median)):
            if src_c != dst:
                df = df.withColumnRenamed(src_c, dst)
        return Stream(df, ts=s.ts, seq=None, keys=s.keys)
    ts_col = s.ts

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        mean, var, med = _tw_profile_kernel(
            pdf[ts_col].to_numpy(dtype=np.int64),
            pdf[col].to_numpy(dtype=np.float64),
            window_ns,
        )
        pdf[out_mean] = mean
        pdf[out_var] = var
        pdf[out_median] = med
        return pdf

    added = [T.StructField(c, T.DoubleType()) for c in (out_mean, out_var, out_median)]
    return _apply_per_key(s, fn, added)


def fold_pandas(s: Stream, fn, init, out: str, cols: list[str] | None = None,
                dtype: T.DataType = T.DoubleType()) -> Stream:
    """Arbitrary-closure fold/scan: ``acc' = fn(acc, row)`` per tick, emitting
    each intermediate accumulator — the reference's general ``fold``/``scan``
    (fluent.rs:816-841, ops.rs:2748-2818) whose Rust closure can't be a SQL
    aggregate. Named builtins should use :meth:`Stream.fold` (JVM-side);
    this is the escape hatch, Arrow-batched per key.

    ``fn(acc, row: dict) -> acc`` — row carries ``cols`` (default: all
    payload columns). On a streaming frame the fold rebinds as a
    KeyedStateOp whose state is the accumulator (wrapped in a 1-tuple so a
    legitimately-None accumulator doesn't release the state slot)."""
    use = cols or [c for c in s.df.columns if c not in (s.ts, s.seq, *s.keys)]

    if s.df.isStreaming:
        def sstep(state, pdf: pd.DataFrame):
            acc = state[0] if state is not None else init
            res = []
            for r in pdf[use].to_dict("records"):
                acc = fn(acc, r)
                res.append(acc)
            out_pdf = pdf.copy()
            out_pdf[out] = res
            return (acc,), out_pdf

        schema = T.StructType(list(s.df.schema.fields)
                              + [T.StructField(out, dtype)])
        return _keyed_stream(s, sstep, schema)

    def step(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = init
        res = []
        rows = pdf[use].to_dict("records")
        for r in rows:
            acc = fn(acc, r)
            res.append(acc)
        pdf[out] = res
        return pdf

    res_s = _apply_per_key(s, step, [T.StructField(out, dtype)])
    # Seed the fold's output slot with init at wiring time so passive
    # readers observe it before the first tick — the interpreted engine
    # seeds the value slot with init.clone(), a cross-path parity contract
    # (parity_bugs.rs BUG 1 :17-63).
    from wingfoil_spark.stream import _wiring_seed
    if isinstance(init, (int, float, str, bool)):
        res_s._passive_seed = _wiring_seed(s, {out: F.lit(init).cast(dtype)})
    return res_s


def delay_with_reset(s: Stream, delay_ns: int, trigger: Stream,
                     value_cols: list[str] | None = None,
                     strategy: str = "relational") -> Stream:
    """Delay each value by ``delay_ns``; a trigger tick *snaps*: it drops all
    pending (not-yet-fired) deliveries and immediately re-emits the current
    upstream value at the trigger's time. Reference: ``delay_with_reset``
    (fluent.rs:1060, ops.rs:3486-3604) — the timer-cancel op.

    Two physical strategies, one semantics (differential-tested):

    - ``"relational"`` (default for batch): the timer outcome as window
      logic over the tagged union — a source row delivers at t+delay iff no
      trigger lands in [t, t+delay); each trigger snaps the latest source
      value at/<= its instant. One key shuffle, zero Python, whole-stage
      codegen — the Catalyst-native form (~6× faster than the timer walk).
    - ``"timer"``: the sequential pending-queue walk (packed Arrow per-key
      pass) — the same shape as the streaming twin
      (:func:`wingfoil_spark.streaming.twins.delay_step`), kept as the
      executable spec of the timer semantics.

    Both streams must share keys. Output rows: (keys, ts, value_cols...).

    On STREAMING frames both strategies rebind to the watermark-timer twin
    (:func:`wingfoil_spark.streaming.twins.delay_with_reset_timer_op`) —
    true event-time firing with zero further key input.
    """
    if s.df.isStreaming or trigger.df.isStreaming:
        from wingfoil_spark.streaming import twins

        if s.keys != trigger.keys:
            raise ValueError("delay_with_reset requires equal keys")
        vals = value_cols or [
            c for c in s.df.columns if c not in (s.ts, s.seq, *s.keys)
        ]
        src = s.df.select(
            *s.keys, F.col(s.ts).alias("__t"), F.lit(0).alias("__trig"),
            (F.col(s.seq) if s.seq else F.lit(0)).cast("long").alias("__seq"),
            *vals,
        )
        trg = trigger.df.select(
            *trigger.keys, F.col(trigger.ts).alias("__t"),
            F.lit(1).alias("__trig"),
            (F.col(trigger.seq) if trigger.seq else F.lit(0)).cast("long").alias("__seq"),
            *[F.lit(None).cast(s.df.schema[c].dataType).alias(c) for c in vals],
        )
        u = src.unionByName(trg)
        out_fields = [T.StructField(k, s.df.schema[k].dataType) for k in s.keys]
        out_fields.append(T.StructField(s.ts, T.LongType()))
        out_fields += [T.StructField(c, s.df.schema[c].dataType) for c in vals]
        op = twins.delay_with_reset_timer_op(
            int(delay_ns), s.ts, list(vals), list(s.keys),
            T.StructType(out_fields),
        )
        return Stream(op.run_stream(u), ts=s.ts, seq=None, keys=s.keys)

    if strategy == "relational":
        return _delay_with_reset_relational(s, delay_ns, trigger, value_cols)
    if strategy != "timer":
        raise ValueError(f"unknown strategy {strategy!r}")
    if s.keys != trigger.keys:
        raise ValueError("delay_with_reset requires equal keys")
    vals = value_cols or [c for c in s.df.columns if c not in (s.ts, s.seq, *s.keys)]
    ts_col = s.ts
    return _delay_with_reset_timer(s, delay_ns, trigger, vals, ts_col)


def _delay_with_reset_relational(s: Stream, delay_ns: int, trigger: Stream,
                                 value_cols: list[str] | None) -> Stream:
    if s.keys != trigger.keys:
        raise ValueError("delay_with_reset requires equal keys")
    from pyspark.sql import Window

    vals = value_cols or [c for c in s.df.columns if c not in (s.ts, s.seq, *s.keys)]
    ts_col, keys, delay = s.ts, list(s.keys), int(delay_ns)
    src = s.df.select(*keys, F.col(s.ts).alias("__t"), F.lit(0).alias("__trig"),
                      (F.col(s.seq) if s.seq else F.lit(0)).cast("long").alias("__seq"),
                      *vals)
    trg = trigger.df.select(*keys, F.col(trigger.ts).alias("__t"), F.lit(1).alias("__trig"),
                            (F.col(trigger.seq) if trigger.seq else F.lit(0)).cast("long").alias("__seq"),
                            *[F.lit(None).cast(s.df.schema[c].dataType).alias(c) for c in vals])
    u = src.unionByName(trg)
    w = (Window.partitionBy(*keys) if keys else Window.partitionBy()).orderBy(
        "__t", "__trig", "__seq"
    )
    # a same-instant trigger sorts AFTER the source row, so it lands in the
    # source's following frame (cancels) and the source lands in the
    # trigger's preceding frame (snap sees it) — the kernel's tie order.
    next_trig = F.min(F.when(F.col("__trig") == 1, F.col("__t"))).over(
        w.rowsBetween(1, Window.unboundedFollowing)
    )
    fills = {
        c: F.last(F.when(F.col("__trig") == 0, F.col(c)), ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
        for c in vals
    }
    df2 = u.select(
        "*", next_trig.alias("__next_trig"),
        *[fills[c].alias(f"__fill_{c}") for c in vals],
    )
    delivered = (
        df2.where(
            (F.col("__trig") == 0)
            & (F.col("__next_trig").isNull() | (F.col("__next_trig") >= F.col("__t") + delay))
        )
        .select(*keys, (F.col("__t") + delay).alias(ts_col), *vals)
    )
    snaps = (
        df2.where((F.col("__trig") == 1) & F.col(f"__fill_{vals[0]}").isNotNull())
        .select(*keys, F.col("__t").alias(ts_col),
                *[F.col(f"__fill_{c}").alias(c) for c in vals])
    )
    out = delivered.unionByName(snaps).dropDuplicates()
    return Stream(out, ts=ts_col, seq=None, keys=s.keys)


def _delay_with_reset_timer(s: Stream, delay_ns: int, trigger: Stream,
                            vals: list[str], ts_col: str) -> Stream:

    src = s.df.select(*s.keys, F.col(s.ts).alias("__t"),
                      F.lit(0).alias("__trig"),
                      (F.col(s.seq) if s.seq else F.lit(0)).cast("long").alias("__seq"),
                      *vals)
    trg = trigger.df.select(*trigger.keys, F.col(trigger.ts).alias("__t"),
                            F.lit(1).alias("__trig"),
                            (F.col(trigger.seq) if trigger.seq else F.lit(0)).cast("long").alias("__seq"),
                            *[F.lit(None).cast(s.df.schema[c].dataType).alias(c) for c in vals])
    u = src.unionByName(trg)
    merged = Stream(u, ts="__t", seq="__trig", keys=s.keys)

    out_fields = [T.StructField(k, s.df.schema[k].dataType) for k in s.keys]
    out_fields.append(T.StructField(ts_col, T.LongType()))
    out_fields += [T.StructField(c, s.df.schema[c].dataType) for c in vals]
    schema = T.StructType(out_fields)

    # bind plain values — closures must not capture Stream/DataFrame
    # (SparkContext refs can't ship to workers)
    keys, vals_t, delay = s.keys, tuple(vals), int(delay_ns)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        # deterministic total order: ties at one instant resolve source-first
        # then by upstream seq (two same-instant purchases apply in seq order)
        pdf = pdf.sort_values(["__t", "__trig", "__seq"], kind="mergesort")
        pending: list[tuple] = []  # (fire_at, values) — FIFO by schedule time
        current = None
        rows = []

        def flush(upto):
            nonlocal pending
            fired = [p for p in pending if p[0] <= upto]
            pending = [p for p in pending if p[0] > upto]
            for fire_at, v in sorted(fired, key=lambda p: p[0]):
                rows.append((fire_at, v))

        t_arr = pdf["__t"].to_numpy()
        trig_arr = pdf["__trig"].to_numpy()
        val_arrs = [pdf[c].to_numpy() for c in vals_t]
        for i in range(len(pdf)):
            t = int(t_arr[i])
            flush(t)  # deliveries due at/ before this instant fire first
            if trig_arr[i]:
                pending.clear()  # drop pending, snap to current
                if current is not None:
                    rows.append((t, current))
            else:
                current = tuple(a[i] for a in val_arrs)
                pending.append((t + delay, current))
        flush(np.iinfo(np.int64).max)

        keyvals = group_key(pdf, keys)
        out = pd.DataFrame(
            [(*keyvals, t, *v) for t, v in rows],
            columns=[*keys, ts_col, *vals_t],
        )
        # TimeQueue dedup: identical (time, value) schedules collapse
        # (runtime/time_queue.rs:136)
        return out.drop_duplicates()

    out_df = _apply_per_key_reshape(merged, fn, schema)
    return Stream(out_df, ts=ts_col, seq=None, keys=s.keys)
