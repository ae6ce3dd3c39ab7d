"""Recursive / stateful per-stream operators (the genuinely non-window ops).

These are the operators whose value at tick n depends on their *own* emitted
state (EWMA's recursion, drop_small_change's last-emitted reference point,
throttle's last-emission timer) — not expressible as SQL window functions.
Sequential within a key (the recursion demands it — same as the reference's
single-threaded node state), parallel across keys on a cluster.

One walk per operator, both run modes: ``drop_small_change``,
``throttle_exact`` and ``fold_pandas`` bind their step
(``streaming/twins.py``, each ``one_key`` of a native multi-key walk)
through :class:`KeyedStateOp` — ``run_batch`` on a batch frame,
``run_stream`` on a streaming one (:func:`_run_keyed`). Every batch op
runs on the ONE packed binding, :func:`_apply_per_key_reshape`, which
hands a walk ``walk(states, body)`` whole Arrow batches of complete key
runs. The batch kernels the bench times keep their own batch walk and
hand streams to the matching step: ``ewma_multi`` (C kernels with reset
flags at the key-run starts / ``ewma_step``), ``time_weighted_profile``
(:func:`_tw_profile_kernel`, shared with its step) and
``delay_with_reset`` (relational plan / ``delay_with_reset_timer_op``).
The other per-key kernels are stateless steps, :func:`lift`-ed.

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
from wingfoil_spark.streaming.stateful import key_tuples, lift, run_starts


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


def _apply_per_key_reshape(s: Stream, walk, out_schema: T.StructType):
    """The packed batch binding: run ``walk(states, body) -> (states, out)``
    (the multi-key walk contract, ``streaming.stateful.WalkFn``) over
    bodies sorted by (keys, ts, seq) that hold only complete key runs,
    each call starting from empty ``states``; ``out`` is in
    ``out_schema`` (its own columns and row count, key columns included —
    an op that only adds columns passes the input schema plus them).

    Binding: ``repartition(keys) → sortWithinPartitions(keys, ts, seq) →
    mapInPandas`` — one walk call per Arrow batch, not one Python call or
    pandas slice per key. Keyless input is one total order in one
    partition, one run (the reference's single-thread graph). The
    partition iterator is :func:`walk_batches`."""
    if s.df.isStreaming:
        raise NotImplementedError(
            "per-key pandas binding on a streaming frame: bind the step "
            "through KeyedStateOp.run_stream instead"
        )
    order = [s.ts] + ([s.seq] if s.seq else [])
    keys = list(s.keys)
    out_cols = [f.name for f in out_schema.fields]

    def per_partition(batches):
        return walk_batches(batches, walk, keys, out_cols)

    df = s.df.repartition(*keys) if keys else s.df.repartition(1)
    return df.sortWithinPartitions(*keys, *order).mapInPandas(
        per_partition, schema=out_schema)


def walk_batches(batches, walk, keys, out_cols):
    """The batch binding's partition iterator: yield ``walk``'s output
    (``out_cols``) over the Arrow batches of one partition clustered by
    ``keys``. Each batch's complete key runs are walked in one call; the
    trailing run is held back — as a list of frames, concatenated once
    when the run ends — so a key spanning batches is walked whole. Keys
    compare as :func:`~wingfoil_spark.streaming.stateful.key_runs` reads
    them (a null or NaN key is one key)."""
    held, held_key = [], None

    def run(frames):
        body = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
        _, out = walk({}, body)
        return [out[out_cols]] if len(out) else []

    for pdf in batches:
        if not len(pdf):
            continue
        starts = run_starts(pdf, keys)
        first, last = key_tuples(pdf, keys, [0, starts[-1]])
        cut = 0  # rows [0, cut) continue the held run
        if held and first == held_key:
            cut = int(starts[1]) if len(starts) > 1 else len(pdf)
            held.append(pdf.iloc[:cut])
        if held and cut < len(pdf):  # the held run ended before this row
            yield from run(held)
            held = []
        if cut == len(pdf):
            continue
        if cut < starts[-1]:
            yield from run([pdf.iloc[cut:starts[-1]]])
        held, held_key = [pdf.iloc[starts[-1]:]], last
    if held:
        yield from run(held)


def _with_columns(pdf: pd.DataFrame, cols: dict) -> pd.DataFrame:
    """``pdf`` plus the new columns ``cols``, as a new frame: a per-key
    kernel under :func:`lift` gets an ``iloc`` slice of the body and must
    not write into it. One column-wise concat — ``assign`` inserts the
    columns one at a time, which costs more than the kernels themselves
    on small keys."""
    return pd.concat([pdf, pd.DataFrame(cols, index=pdf.index)], axis=1)


def _run_keyed(s: Stream, step, out_schema, init_state=None) -> Stream:
    """Bind a step through :class:`KeyedStateOp` in the frame's own run
    mode: ``run_batch`` (the packed binding, each key's whole history
    walked at once) on a batch frame, ``run_stream`` (state in the state
    store across micro-batches) on a streaming one."""
    from wingfoil_spark.streaming.stateful import KeyedStateOp

    op = KeyedStateOp(step, out_schema=out_schema, init_state=init_state,
                      ts=s.ts, seq=s.seq, keys=tuple(s.keys))
    run = op.run_stream if s.df.isStreaming else op.run_batch
    return Stream(run(s.df), ts=s.ts, seq=s.seq, keys=s.keys)


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
    return ewma_multi(s, col, {out: {"alpha": alpha} if alpha is not None
                               else {"half_life_ns": half_life_ns}})


def ewma_multi(s: Stream, col: str, specs: dict[str, dict]) -> Stream:
    """Several EWMA columns in ONE Arrow pass (one sort, one Python stage) —
    the fused form of chained :func:`ewma` calls. ``specs`` maps output
    column → {"alpha": a} or {"half_life_ns": h}.

    Batch: both recursions run the C kernels (plain (1-α)·acc + α·x — the
    same op order as the recursive-CTE oracle and ``ewma_step`` — and the
    scalar-pow half-life walk) as the binding's walk: one kernel call over
    all complete key runs of a body, with reset flags at the run starts,
    bitwise identical to per-key runs. Stream: each spec runs its step
    (``ewma_step`` / :func:`_ewma_hl_step`); the state is a dict keyed by
    output column."""
    # null value = non-tick (the reference's streams cannot carry nulls;
    # a NaN entering the recursion would poison the accumulator FOREVER,
    # unlike the window stats, which skip nulls per-frame)
    s = s._derive(s.df.where(F.col(col).isNotNull()))
    ts_col, vcol = s.ts, col
    items = [(out, p.get("alpha"), p.get("half_life_ns")) for out, p in specs.items()]
    added = [T.StructField(out, T.DoubleType()) for out, _, _ in items]

    if s.df.isStreaming:
        from wingfoil_spark.streaming.stateful import ewma_step

        keep = [*s.keys, s.ts, *([s.seq] if s.seq else []), col]
        steps = {
            out: (ewma_step(col, alpha, out, []), (False, 0.0))
            if alpha is not None else
            (_ewma_hl_step(col, float(hl), out, [], ts_col), (False, 0.0, 0.0))
            for out, alpha, hl in items
        }

        def step(state, pdf: pd.DataFrame):
            st = dict(state) if state else {}
            out_pdf = pdf[keep].copy()
            for out, (one, init) in steps.items():
                st[out], o = one(st.get(out, init), pdf)
                out_pdf[out] = o[out]
            return st, out_pdf

        schema = T.StructType([s.df.schema[c] for c in keep] + added)
        return _run_keyed(s, step, schema)

    keys = list(s.keys)

    def walk(states: dict, body: pd.DataFrame):
        # batch only: every run of the body is complete and starts fresh
        from wingfoil_spark.operators import _ckernels

        grp = np.zeros(len(body), dtype=np.int8)
        grp[run_starts(body, keys)] = 1
        x = body[vcol].to_numpy(dtype=np.float64)
        ts = body[ts_col].to_numpy(dtype=np.float64)
        return states, body.assign(**{
            out: _ckernels.ewma_alpha(x, float(alpha), grp) if alpha is not None
            else _ckernels.ewma_hl(ts, x, float(hl), grp)
            for out, alpha, hl in items
        })

    schema = T.StructType(list(s.df.schema.fields) + added)
    return Stream(_apply_per_key_reshape(s, walk, schema),
                  ts=s.ts, seq=s.seq, keys=s.keys)


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
    from wingfoil_spark.streaming import twins

    keys = list(s.keys)
    step = (twins.drop_small_change_pred_step(col, tol, keys) if callable(tol)
            else twins.drop_small_change_step(col, tol, keys))
    return _run_keyed(s, step, s.df.schema)


def throttle_exact(s: Stream, interval_ns: int) -> Stream:
    """Timer-accurate throttle: emit iff ts ≥ last emission + interval.
    Reference ``throttle`` semantics (ops.rs:381-414)."""
    from wingfoil_spark.streaming.twins import throttle_step

    return _run_keyed(s, throttle_step(interval_ns, s.ts, list(s.keys)),
                      s.df.schema)


def time_windowed_time_weighted(
    s: Stream, col: str, stat: str, window_ns: int, out: str
) -> Stream:
    """Exact time-weighted {mean, var, std} over a trailing duration.

    The step-signal integral over [ts_n - W, ts_n] requires clipping the
    partial interval at the window's left edge — not window-expressible, so
    computed per key by :func:`_tw_mean_var` (integer-exact integrals, the
    mean/var half of :func:`time_weighted_profile`'s kernel). Reference:
    ``time_windowed_*_time_weighted`` (stats.rs:154-162, ops.rs:2374-2501).
    """
    ts_col = s.ts

    def step(_, pdf: pd.DataFrame):
        mean, var = _tw_mean_var(pdf[ts_col].to_numpy(dtype=np.int64),
                                 pdf[col].to_numpy(dtype=np.float64), window_ns)
        return None, _with_columns(pdf, {out: mean if stat == "mean" else var
                                         if stat == "var" else np.sqrt(var)})

    schema = T.StructType(list(s.df.schema.fields)
                          + [T.StructField(out, T.DoubleType())])
    return Stream(_apply_per_key_reshape(s, lift(step, s.keys, None), schema),
                  ts=s.ts, seq=s.seq, keys=s.keys)


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

    def step(_, pdf: pd.DataFrame):
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
        return None, _with_columns(pdf, {out: res})

    dropped = [c for c in s.df.columns if c != wname]
    schema = T.StructType(list(s.df.schema.fields)
                          + [T.StructField(out, T.DoubleType())])
    result = _apply_per_key_reshape(s, lift(step, s.keys, None), schema)
    return Stream(result.select(*dropped, out), ts=s.ts, seq=s.seq, keys=s.keys)


def _tw_mean_var(ts: np.ndarray, v: np.ndarray, window_ns: int):
    """Trailing-duration clipped time-weighted (mean, var) arrays over one
    key's (ts,seq)-sorted history: the step-signal integral over
    [ts_i - W, ts_i] clips the partial interval at the window's left edge.
    The integrals are exact integers (value in cents × in-effect time) and
    convert to double only for the final division, so the DuckDB oracle
    (HUGEINT sums over the same clipped weights) matches bit-for-bit. C
    two-pointer sliding-integral kernel (O(n), int64-exact within its
    guard), falling back to the Python big-int prefix walk."""
    from wingfoil_spark.operators import _ckernels

    ts = np.asarray(ts, dtype=np.int64)
    v = np.asarray(v, dtype=np.float64)
    vc = np.rint(v * 100).astype(np.int64)  # exact cents (2-decimal data)
    n = len(ts)
    if n == 0:
        return np.empty(0), np.empty(0)
    mv = _ckernels.tw_mean_var(ts, vc, v, window_ns)
    if mv is not None:
        return mv
    mean = np.empty(n)
    var = np.empty(n)
    tsl, vcl = ts.tolist(), vc.tolist()  # python ints: exact, unbounded
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
    return mean, var


def _tw_profile_kernel(ts: np.ndarray, v: np.ndarray, window_ns: int):
    """The fused time-weighted kernel over one key's FULL (ts,seq)-sorted
    history: returns (mean, var, median) arrays — trailing-duration clipped
    mean/var (:func:`_tw_mean_var`) + cumulative weighted median. Shared
    verbatim by the batch operator and the streaming twin
    (streaming/twins.py:tw_profile_step), so run-mode duality is bitwise by
    construction — both modes execute THIS code on the same history."""
    ts = np.asarray(ts, dtype=np.int64)
    v = np.asarray(v, dtype=np.float64)
    n = len(ts)
    mean, var = _tw_mean_var(ts, v, window_ns)
    if n == 0:
        return mean, var, np.empty(0)

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
        step = tw_profile_step(col, window_ns, s.ts, list(s.keys),
                               passthrough=keep)
        # twin emits fixed tw_* names; realias to the requested ones
        res = _run_keyed(s._derive(s.df, seq=None), step, T.StructType(
            [s.df.schema[c] for c in keep]
            + [T.StructField(c, T.DoubleType())
               for c in ("tw_mean", "tw_var", "tw_median")]
        ))
        df = res.df
        for src_c, dst in (("tw_mean", out_mean), ("tw_var", out_var),
                           ("tw_median", out_median)):
            if src_c != dst:
                df = df.withColumnRenamed(src_c, dst)
        return Stream(df, ts=s.ts, seq=None, keys=s.keys)
    ts_col = s.ts

    def step(_, pdf: pd.DataFrame):
        mean, var, med = _tw_profile_kernel(
            pdf[ts_col].to_numpy(dtype=np.int64),
            pdf[col].to_numpy(dtype=np.float64),
            window_ns,
        )
        return None, _with_columns(pdf, {out_mean: mean, out_var: var, out_median: med})

    schema = T.StructType(
        list(s.df.schema.fields)
        + [T.StructField(c, T.DoubleType()) for c in (out_mean, out_var, out_median)]
    )
    return Stream(_apply_per_key_reshape(s, lift(step, s.keys, None), schema),
                  ts=s.ts, seq=s.seq, keys=s.keys)


def fold_pandas(s: Stream, fn, init, out: str, cols: list[str] | None = None,
                dtype: T.DataType = T.DoubleType()) -> Stream:
    """Arbitrary-closure fold/scan: ``acc' = fn(acc, row)`` per tick, emitting
    each intermediate accumulator — the reference's general ``fold``/``scan``
    (fluent.rs:816-841, ops.rs:2748-2818) whose Rust closure can't be a SQL
    aggregate. Named builtins should use :meth:`Stream.fold` (JVM-side);
    this is the escape hatch, Arrow-batched per key.

    ``fn(acc, row: dict) -> acc`` — row carries ``cols`` (default: all
    payload columns). Both run modes bind ``twins.fold_step`` through
    KeyedStateOp; its state is the accumulator (wrapped in a 1-tuple so a
    legitimately-None accumulator doesn't release the state slot)."""
    from wingfoil_spark.stream import _wiring_seed
    from wingfoil_spark.streaming.twins import fold_step

    use = cols or [c for c in s.df.columns if c not in (s.ts, s.seq, *s.keys)]
    schema = T.StructType(list(s.df.schema.fields) + [T.StructField(out, dtype)])
    res_s = _run_keyed(s, fold_step(fn, init, use, out, list(s.keys)), schema)
    # Seed the fold's output slot with init at wiring time so passive
    # readers observe it before the first tick — the interpreted engine
    # seeds the value slot with init.clone(), a cross-path parity contract
    # (parity_bugs.rs BUG 1 :17-63).
    if isinstance(init, (int, float, str, bool)):
        res_s._passive_seed = _wiring_seed(s, {out: F.lit(init).cast(dtype)})
    return res_s


def delay_with_reset(s: Stream, delay_ns: int, trigger: Stream,
                     value_cols: list[str] | None = None) -> Stream:
    """Delay each value by ``delay_ns``; a trigger tick *snaps*: it drops all
    pending (not-yet-fired) deliveries and immediately re-emits the current
    upstream value at the trigger's time. Reference: ``delay_with_reset``
    (fluent.rs:1060, ops.rs:3486-3604) — the timer-cancel op.

    Both streams must share keys. Output rows: (keys, ts, value_cols...).
    Both run modes read one tagged union of source (``__trig`` 0) and
    trigger (``__trig`` 1) rows:

    - batch: the timer outcome as window logic — a source row delivers at
      t+delay iff no trigger lands in [t, t+delay); each trigger snaps the
      latest source value at/<= its instant. One key shuffle, zero Python,
      whole-stage codegen.
    - stream: the watermark-timer walk
      (:func:`wingfoil_spark.streaming.twins.delay_with_reset_timer_op`) —
      true event-time firing with zero further key input. Its walk is the
      executable spec the relational plan is tested against.
    """
    from pyspark.sql import Window

    if s.keys != trigger.keys:
        raise ValueError("delay_with_reset requires equal keys")
    vals = value_cols or [c for c in s.df.columns if c not in (s.ts, s.seq, *s.keys)]
    ts_col, keys, delay = s.ts, list(s.keys), int(delay_ns)
    src = s.df.select(*keys, F.col(s.ts).alias("__t"), F.lit(0).alias("__trig"),
                      (F.col(s.seq) if s.seq else F.lit(0)).cast("long").alias("__seq"),
                      *vals)
    trg = trigger.df.select(*keys, F.col(trigger.ts).alias("__t"), F.lit(1).alias("__trig"),
                            (F.col(trigger.seq) if trigger.seq else F.lit(0)).cast("long").alias("__seq"),
                            *[F.lit(None).cast(s.df.schema[c].dataType).alias(c) for c in vals])
    u = src.unionByName(trg)
    if u.isStreaming:
        from wingfoil_spark.streaming import twins

        out_fields = [T.StructField(k, s.df.schema[k].dataType) for k in keys]
        out_fields.append(T.StructField(ts_col, T.LongType()))
        out_fields += [T.StructField(c, s.df.schema[c].dataType) for c in vals]
        op = twins.delay_with_reset_timer_op(delay, ts_col, list(vals), keys,
                                             T.StructType(out_fields))
        return Stream(op.run_stream(u), ts=ts_col, seq=None, keys=s.keys)

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
