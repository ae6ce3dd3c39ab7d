"""Streaming twins for the window-function core combinators.

The batch implementations of ``combine_latest`` / ``join_passive`` /
``filter_latch`` / the rolling stats matrix / ``delay`` compile to SQL
window functions, which Structured Streaming rejects — so round-1's
run-mode duality (reference ``RunMode``, runtime/run.rs:16-29) held only
for KeyedStateOp ops. This module closes the gap: each combinator gets a
:class:`~wingfoil_spark.streaming.stateful.KeyedStateOp` step function
whose ``run_batch`` output equals the window-based batch operator (pinned
by tests/test_streaming_duality.py) and whose ``run_stream`` binding runs
the SAME step under ``applyInPandasWithState``.

Input convention (combine/filter/delay): a *tagged union* frame built by
:func:`tagged_union` — both sides' rows with a ``__side`` column (0 =
right/passive first within an instant, 1 = left/active), ``__seq`` the
upstream seq. This mirrors the batch ``_combine`` union exactly
(stream.py), so ordering semantics are shared by construction.

Burst atomicity note: an instant's rows must arrive within one micro-batch
(the reference delivers bursts in one cycle — runtime/burst.rs:16; Kafka
partition order gives this in practice). ``combine`` emission happens when
the instant completes inside the batch.

Timer API note: Spark 4.1's ``transformWithStateInPandas`` offers the
richest timer surface but its state protocol requires ``google.protobuf``,
absent from this environment (verified: the TWS driver worker crashes
importing StateMessage_pb2; re-verified round 14, 2026-08-16 — ``import
google.protobuf`` still raises ModuleNotFoundError, so the binding stays
env-blocked; port ``delay`` as the TWS pilot if a future round finds it
installed). TRUE event-time timers do not need TWS:
``applyInPandasWithState`` with ``GroupStateTimeout.EventTimeTimeout``
invokes the function with ``hasTimedOut`` for any key whose armed timeout
falls behind the advancing WATERMARK — with no new input for the key. The
:class:`EventTimeTimerOp` binding below uses exactly that, closing the r2
gap where a key with no traffic never fired its pending ``delay``
deliveries (the reference timer node contract, ops.rs:3090-3155; timer
cancel :3486-3604).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wingfoil_spark.stream import Stream
from wingfoil_spark.streaming.stateful import (
    KeyedStateOp, StepFn, WalkFn, group_key, in_order, key_runs, one_key,
    runs,
)


def tagged_union(left: Stream, right: Stream, lvals: list[str], rvals: list[str]) -> DataFrame:
    """The batch ``_combine`` union shape, reusable by both run modes:
    (keys, ts, __side, __seq, lvals..., rvals...) with nulls on the other
    side's columns."""
    if left.keys != right.keys:
        raise ValueError("tagged_union requires equal keys")
    ts = left.ts
    ldf = left.df.select(
        *left.keys, F.col(left.ts).alias(ts), F.lit(1).alias("__side"),
        (F.col(left.seq) if left.seq else F.lit(0)).cast("long").alias("__seq"),
        *lvals,
        *[F.lit(None).cast(right.df.schema[c].dataType).alias(c) for c in rvals],
    )
    rdf = right.df.select(
        *right.keys, F.col(right.ts).alias(ts), F.lit(0).alias("__side"),
        (F.col(right.seq) if right.seq else F.lit(0)).cast("long").alias("__seq"),
        *[F.lit(None).cast(left.df.schema[c].dataType).alias(c) for c in lvals],
        *rvals,
    )
    return ldf.unionByName(rdf)


def combine_step(
    ts: str, lvals: list[str], rvals: list[str], keys: list[str], emit: str = "either"
) -> StepFn:
    """Combine-latest as a resumable step. State = the two latches (dict of
    col → last value). ``emit='either'``: one row per completed instant
    carrying both latches (reference ``join``, ops.rs:2983-3008);
    ``emit='left'``: one row per left tick (``join_passive`` / ``sample``,
    ops.rs:3033-3063). Matches the batch window implementation row-for-row
    when instants don't straddle micro-batches."""
    cols = [*lvals, *rvals]

    def step(state, pdf: pd.DataFrame):
        lat = dict(state) if state else {c: None for c in cols}
        pdf = pdf.sort_values([ts, "__side", "__seq"], kind="mergesort")
        keyvals = group_key(pdf, keys)
        t_arr = pdf[ts].to_numpy()
        side_arr = pdf["__side"].to_numpy()
        val_arrs = {c: pdf[c].to_numpy() for c in cols}
        rows = []
        n = len(pdf)
        for i in range(n):
            own = lvals if side_arr[i] == 1 else rvals
            for c in own:
                v = val_arrs[c][i]
                if not (isinstance(v, float) and np.isnan(v)) and v is not None:
                    lat[c] = v
            if emit == "left":
                if side_arr[i] == 1:
                    rows.append((int(t_arr[i]), *[lat[c] for c in cols]))
            else:  # either: emit when the instant completes
                if i + 1 == n or t_arr[i + 1] != t_arr[i]:
                    rows.append((int(t_arr[i]), *[lat[c] for c in cols]))
        out = pd.DataFrame(
            [(*keyvals, t, *vs) for t, *vs in rows], columns=[*keys, ts, *cols]
        )
        return lat, out

    return step


def combine_latest_op(
    left: Stream, right: Stream, lvals: list[str], rvals: list[str], emit: str = "either"
) -> tuple[KeyedStateOp, DataFrame]:
    """(op, tagged-union frame) for a combine-latest: ``op.run_batch(u)``
    equals the window-based ``Stream.combine_latest``; feed a readStream
    union to ``op.run_stream`` for realtime."""
    keys = list(left.keys)
    schema_fields = []
    from pyspark.sql import types as T

    for k in keys:
        schema_fields.append(left.df.schema[k])
    schema_fields.append(T.StructField(left.ts, T.LongType()))
    for c in lvals:
        schema_fields.append(T.StructField(c, left.df.schema[c].dataType))
    for c in rvals:
        schema_fields.append(T.StructField(c, right.df.schema[c].dataType))
    op = KeyedStateOp(
        combine_step(left.ts, lvals, rvals, keys, emit),
        out_schema=T.StructType(schema_fields),
        init_state=None,
        ts=left.ts,
        seq="__seq",
        keys=tuple(keys),
    )
    return op, tagged_union(left, right, lvals, rvals)


def _cents(v: float) -> int | None:
    """Exact integer cents, or None when the value is not 2-decimal data.
    The integer-exact accumulation (bitwise equal to the decimal-staged
    batch windows) is only sound for 2-decimal inputs; steps fall back to
    float accumulation otherwise (ADVICE r3: int(round(v*100)) silently
    corrupted >2-decimal sums while claiming 'same semantics')."""
    c = round(v * 100)
    return c if abs(v * 100 - c) < 1e-9 else None


def _sums_from_cents(cs: list, xs: list) -> tuple[float, float]:
    """(Σx, Σx²) — exact integer cents when every value is 2-decimal,
    float accumulation (documented approximate duality) otherwise."""
    if any(c is None for c in cs):
        return float(sum(xs)), float(sum(x * x for x in xs))
    return float(sum(cs)) / 100.0, float(sum(c * c for c in cs)) / 10000.0


_STAT_COLS = ("st_sum", "st_mean", "st_min", "st_max", "st_var", "st_std",
              "st_median")


def rolling_stats_step(
    col: str, n: int, ts: str, seq: str | None, keys: list[str]
) -> StepFn:
    """Trailing-``n``-ticks stats matrix as a resumable step. State = the
    last n (cents, value) pairs. Sums accumulate in exact integers and
    convert with the same double op-order as the window/SQL implementation
    ((s2 - s1²/n)/(n-1) decimal-exact → double), so all three bindings
    (window batch, step batch, step stream) agree bitwise."""

    def step(state, pdf: pd.DataFrame):
        hist: list[tuple[int, float]] = list(state) if state else []
        out_rows = []
        order = [ts] + ([seq] if seq else [])
        pdf = in_order(pdf, order)
        keyvals = group_key(pdf, keys)
        meta = pdf[order].to_numpy()
        vals = pdf[col].to_numpy(dtype=np.float64)
        for i in range(len(pdf)):
            v = float(vals[i])
            hist.append((_cents(v), v))
            if len(hist) > n:
                hist.pop(0)
            cs = [c for c, _ in hist]
            vs = sorted(x for _, x in hist)
            cnt = len(hist)
            s1, s2 = _sums_from_cents(cs, [x for _, x in hist])
            # single-sample var/std seed 0.0 (statistics_rolling.rs:9-15)
            var = max((s2 - s1 * s1 / cnt) / (cnt - 1), 0.0) if cnt > 1 else 0.0
            med = (vs[(cnt + 1) // 2 - 1] + vs[cnt // 2]) / 2
            out_rows.append(
                (*[int(m) for m in meta[i]], v, s1, s1 / cnt, min(vs), max(vs),
                 var, np.sqrt(var), med)
            )
        out = pd.DataFrame(
            [(*keyvals, *r) for r in out_rows],
            columns=[*keys, *order, col, *_STAT_COLS],
        )
        return hist, out

    return step


def range_stats_walk(
    col: str, window_ns: int, ts: str, seq: str | None, keys: list[str]
) -> WalkFn:
    """Trailing-DURATION tick-weighted stats matrix (the ``("range", ns)``
    frame, reference time_windowed_* stats.rs:90-131) as a native
    multi-key walk over a body sorted by (keys, ts, seq). Each key's state
    = the (ts, cents, value) samples still inside any future frame
    (ts ≥ newest − window). Burst atomicity: every row of one instant sees
    the full instant in-frame (rangeBetween includes same-ts rows in both
    directions — runtime/burst.rs:16), so rows are processed per instant,
    an instant being a run of equal (key, ts). Sums accumulate in exact
    integer cents with the same double op-order as the decimal window
    formulation — bitwise across all three bindings. The seven stats fill
    one (rows, 7) array, and the output frame is built from the body's
    column arrays: per-row tuples cost more than the stats."""
    order = [ts] + ([seq] if seq else [])

    def walk(states: dict, body: pd.DataFrame):
        n = len(body)
        t_arr = body[ts].to_numpy().astype(np.int64, copy=False)
        vals = body[col].to_numpy(dtype=np.float64)
        stats = np.empty((n, len(_STAT_COLS)))
        tuples, starts = key_runs(body, keys)
        new = np.zeros(n, dtype=bool)
        new[1:] = t_arr[1:] != t_arr[:-1]
        new[starts] = True
        cuts = [*np.flatnonzero(new).tolist(), n]  # instant starts, then n
        pos = 0
        for k, end in zip(tuples, [*starts[1:], n]):
            hist: list[tuple[int, int, float]] = list(states.get(k) or ())
            while cuts[pos] < end:
                i, j = cuts[pos], cuts[pos + 1]
                pos += 1
                t = int(t_arr[i])
                hist += [(t, _cents(x), x) for x in vals[i:j].tolist()]
                hist = [h for h in hist if h[0] >= t - window_ns]
                cs = [c for _, c, _ in hist]
                vs = sorted(x for _, _, x in hist)
                cnt = len(hist)
                s1, s2 = _sums_from_cents(cs, [x for _, _, x in hist])
                # single-sample var/std seed 0.0 (statistics_rolling.rs:9-15)
                var = max((s2 - s1 * s1 / cnt) / (cnt - 1), 0.0) if cnt > 1 else 0.0
                med = (vs[(cnt + 1) // 2 - 1] + vs[cnt // 2]) / 2
                stats[i:j] = (s1, s1 / cnt, vs[0], vs[-1], var, np.sqrt(var), med)
            states[k] = hist
        out = pd.DataFrame({
            **{k: body[k].to_numpy() for k in keys},
            **{c: body[c].to_numpy().astype(np.int64, copy=False) for c in order},
            col: vals,
            **dict(zip(_STAT_COLS, stats.T)),
        })
        return states, out

    return walk


def range_stats_step(
    col: str, window_ns: int, ts: str, seq: str | None, keys: list[str]
) -> StepFn:
    """:func:`range_stats_walk` as a resumable one-key step (state = the
    key's retained samples; ``None`` starts fresh) — the same body, run on
    one key's rows."""
    return one_key(range_stats_walk(col, window_ns, ts, seq, keys), keys,
                   [ts] + ([seq] if seq else []))


def tw_profile_step(
    col: str, window_ns: int, ts: str, keys: list[str],
    passthrough: list[str] | None = None,
) -> StepFn:
    """The fused time-weighted profile (clipped trailing mean/var +
    cumulative weighted median — stats.rs:154-185) as a resumable step.

    Duality by CONSTRUCTION: state is the key's full (ts, value) history
    (the cumulative median needs it — the reference holds the same growing
    structure, ops.rs:2502-2669); each batch re-runs the SHARED batch
    kernel (:func:`wingfoil_spark.operators.stateful._tw_profile_kernel`)
    over history+new and emits only the new rows' outputs, so stream ==
    batch bitwise because both execute identical code on identical input.
    An O(increment) incremental-integral variant is the optimization path
    once semantics bake; the kernel's integrals are already exact ints, so
    it would stay bitwise."""

    def step(state, pdf: pd.DataFrame):
        from wingfoil_spark.operators.stateful import _tw_profile_kernel

        h_ts, h_v = (list(state[0]), list(state[1])) if state else ([], [])
        pdf = in_order(pdf, [ts])
        new_ts = [int(t) for t in pdf[ts].to_numpy()]
        new_v = [float(x) for x in pdf[col].to_numpy(dtype=np.float64)]
        h_ts += new_ts
        h_v += new_v
        mean, var, med = _tw_profile_kernel(
            np.array(h_ts, dtype=np.int64), np.array(h_v, dtype=np.float64),
            window_ns,
        )
        k = len(new_ts)
        base_cols = passthrough or [*keys, ts, col]
        out = pdf[[c for c in base_cols if c in pdf.columns]].copy()
        out["tw_mean"] = mean[-k:] if k else np.array([])
        out["tw_var"] = var[-k:] if k else np.array([])
        out["tw_median"] = med[-k:] if k else np.array([])
        return (h_ts, h_v), out

    return step


def tw_range_step(
    col: str, window_ns: int, ts: str, keys: list[str]
) -> StepFn:
    """Trailing-duration TIME-WEIGHTED mean/var/std with the reference's
    sample-retention eviction (statistics_time_weighted.rs:8-23 +
    statistics_time_windowed.rs aging: a sample aged past the window leaves
    with its WHOLE interval; the newest retained sample is uncredited) as a
    resumable step — the streaming twin of window_stat's ("range", ns)
    time-weighted default. State = retained (ts, cents, value) samples.
    Integer-exact sums (cents × in-effect units) convert once to double,
    matching the batch decimal formulation bitwise."""

    def step(state, pdf: pd.DataFrame):
        hist: list[tuple[int, int, float]] = list(state) if state else []
        pdf = in_order(pdf, [ts])
        keyvals = group_key(pdf, keys)
        t_arr = pdf[ts].to_numpy()
        vals = pdf[col].to_numpy(dtype=np.float64)
        out_rows = []
        for i in range(len(pdf)):
            t = int(t_arr[i])
            v = float(vals[i])
            hist.append((t, _cents(v), v))
            hist = [h for h in hist if h[0] >= t - window_ns]
            exact = all(c is not None for _, c, _ in hist)
            sw = 0
            swv = 0
            swv2 = 0
            for (t0, c0, x0), (t1, _, _) in zip(hist, hist[1:]):
                w = t1 - t0
                sw += w
                if exact:
                    swv += c0 * w
                    swv2 += c0 * c0 * w
                else:  # >2-decimal data: float accumulation (documented)
                    swv += x0 * w
                    swv2 += x0 * x0 * w
            if sw == 0:
                mean, var = v, 0.0
            elif exact:
                # int/int division is correctly rounded even past 2^53 —
                # ONE rounding, exactly like the batch decimal→double cast
                # (float(big_int)/100.0 would round twice and diverge)
                mean = (swv / 100) / sw
                m = mean
                var = max((swv2 / 10000) / sw - m * m, 0.0)
            else:
                mean = swv / sw
                var = max(swv2 / sw - mean * mean, 0.0)
            out_rows.append((t, v, mean, var, np.sqrt(var)))
        out = pd.DataFrame(
            [(*keyvals, *r) for r in out_rows],
            columns=[*keys, ts, col, "tw_mean", "tw_var", "tw_std"],
        )
        return hist, out

    return step


def cum_stats_step(
    col: str, ts: str, seq: str | None, keys: list[str]
) -> StepFn:
    """Cumulative (since-start) tick-weighted stats matrix as a resumable
    step (reference cumulative_*, stats.rs:59-85) — closes the r3 gap where
    ``stat(col, s, ("cum",))`` on a readStream raised NotImplementedError.
    State = (count, Σcents, Σcents², Σx, Σx², min, max, sorted-values).
    The sorted value list backs the EXACT median (the batch op is
    sort_array(collect_list) over the unbounded frame — same O(n) per-key
    memory by necessity); sums accumulate in exact integer cents with the
    decimal-staged batch op-order, float fallback for >2-decimal data."""

    def step(state, pdf: pd.DataFrame):
        import bisect

        if state:
            cnt, sc1, sc2, f1, f2, mn, mx, vs = state
            vs = list(vs)
        else:
            cnt, sc1, sc2, f1, f2, mn, mx, vs = 0, 0, 0, 0.0, 0.0, None, None, []
        order = [ts] + ([seq] if seq else [])
        pdf = in_order(pdf, order)
        keyvals = group_key(pdf, keys)
        meta = pdf[order].to_numpy()
        vals = pdf[col].to_numpy(dtype=np.float64)
        out_rows = []
        for i in range(len(pdf)):
            v = float(vals[i])
            c = _cents(v)
            cnt += 1
            if sc1 is not None and c is not None:
                sc1 += c
                sc2 += c * c
            else:
                sc1 = sc2 = None  # permanently tainted: float path
            f1 += v
            f2 += v * v
            mn = v if mn is None else min(mn, v)
            mx = v if mx is None else max(mx, v)
            bisect.insort(vs, v)
            if sc1 is not None:
                s1 = float(sc1) / 100.0
                s2 = float(sc2) / 10000.0
            else:
                s1, s2 = f1, f2
            # single-sample var/std seed 0.0 (statistics_rolling.rs:9-15)
            var = max((s2 - s1 * s1 / cnt) / (cnt - 1), 0.0) if cnt > 1 else 0.0
            med = (vs[(cnt + 1) // 2 - 1] + vs[cnt // 2]) / 2
            out_rows.append(
                (*[int(m) for m in meta[i]], v, s1, s1 / cnt, mn, mx,
                 var, np.sqrt(var), med)
            )
        out = pd.DataFrame(
            [(*keyvals, *r) for r in out_rows],
            columns=[*keys, *order, col, *_STAT_COLS],
        )
        return (cnt, sc1, sc2, f1, f2, mn, mx, vs), out

    return step


def tw_window_step(col: str, frame, ts: str, keys: list[str]) -> StepFn:
    """Windowed TIME-WEIGHTED stats {mean, var, std, median} as one causal
    resumable step — frames ("rows", n) (last n-1 committed samples,
    stats.rs:177-185 rolling) and ("range", ns) (sample retention,
    statistics_time_windowed.rs aging). State = the retained
    (ts, cents, value) samples, newest last (its weight uncommitted).

    The weighted MEDIAN follows the reference crossing rule via
    ``_weighted_median_select`` over strictly-prior samples — exactly the
    batch ``weighted_median`` candidate set, so median duality is bitwise
    with no burst caveat (the batch op never looks at the current row or
    its instant-mates: their weights are 0 or uncommitted). For mean/var
    on the RANGE frame the batch rangeBetween window gives burst rows
    visibility of the whole instant's committed weight — look-ahead a
    causal stream cannot have; that divergence is pinned by the same-ts
    burst duality test. Integer-cent sums, float fallback for >2-decimal
    data."""
    rows_n = max(frame[1], 1) if frame[0] == "rows" else None
    range_ns = frame[1] if frame[0] == "range" else None

    def step(state, pdf: pd.DataFrame):
        from wingfoil_spark.operators.stateful import _weighted_median_select

        hist: list[tuple] = list(state) if state else []
        pdf = in_order(pdf, [ts])
        keyvals = group_key(pdf, keys)
        t_arr = pdf[ts].to_numpy()
        vals = pdf[col].to_numpy(dtype=np.float64)
        out_rows = []
        for i in range(len(pdf)):
            t = int(t_arr[i])
            v = float(vals[i])
            hist.append((t, _cents(v), v))
            if rows_n is not None:
                hist = hist[-rows_n:]
            else:
                hist = [h for h in hist if h[0] >= t - range_ns]
            exact = all(c is not None for _, c, _ in hist)
            sw = 0
            swv = 0
            swv2 = 0
            ws = []
            for (t0, c0, x0), (t1, _, _) in zip(hist, hist[1:]):
                w = t1 - t0
                ws.append(w)
                sw += w
                if exact:
                    swv += c0 * w
                    swv2 += c0 * c0 * w
                else:
                    swv += x0 * w
                    swv2 += x0 * x0 * w
            if sw == 0:
                mean, var = v, 0.0
            elif exact:
                mean = (swv / 100) / sw
                var = max((swv2 / 10000) / sw - mean * mean, 0.0)
            else:
                mean = swv / sw
                var = max(swv2 / sw - mean * mean, 0.0)
            vv = np.array([x for _, _, x in hist[:-1]], dtype=np.float64)
            ww = np.array(ws, dtype=np.float64)
            mask = ww > 0
            med = _weighted_median_select(vv[mask], ww[mask], v)
            out_rows.append((t, v, mean, var, np.sqrt(var), med))
        out = pd.DataFrame(
            [(*keyvals, *r) for r in out_rows],
            columns=[*keys, ts, col, "tw_mean", "tw_var", "tw_std",
                     "tw_median"],
        )
        return hist, out

    return step


def tw_cum_step(col: str, ts: str, keys: list[str]) -> StepFn:
    """Cumulative TIME-WEIGHTED mean/var/std as a resumable step with O(1)
    state (reference cumulative_*_time_weighted, stats.rs:59-85): running
    integer integrals (cents × µs), each sample's weight committed when its
    successor arrives; int/int division keeps the single-rounding
    decimal→double op-order of the batch window formulation. (Cumulative
    tw MEDIAN needs the full history — bind :func:`tw_profile_step`.)"""

    def step(state, pdf: pd.DataFrame):
        if state:
            last_t, last_c, last_x, sw, swv, swv2, fwv, fwv2 = state
        else:
            last_t, last_c, last_x, sw, swv, swv2, fwv, fwv2 = (
                None, None, None, 0, 0, 0, 0.0, 0.0)
        pdf = in_order(pdf, [ts])
        keyvals = group_key(pdf, keys)
        t_arr = pdf[ts].to_numpy()
        vals = pdf[col].to_numpy(dtype=np.float64)
        out_rows = []
        for i in range(len(pdf)):
            t = int(t_arr[i])
            v = float(vals[i])
            if last_t is not None:
                w = t - last_t
                sw += w
                if swv is not None and last_c is not None:
                    swv += last_c * w
                    swv2 += last_c * last_c * w
                else:
                    swv = swv2 = None  # >2-decimal data: float path
                fwv += last_x * w
                fwv2 += last_x * last_x * w
            if sw == 0:
                mean, var = v, 0.0
            elif swv is not None:
                mean = (swv / 100) / sw
                var = max((swv2 / 10000) / sw - mean * mean, 0.0)
            else:
                mean = fwv / sw
                var = max(fwv2 / sw - mean * mean, 0.0)
            out_rows.append((t, v, mean, var, np.sqrt(var)))
            last_t, last_c, last_x = t, _cents(v), v
        out = pd.DataFrame(
            [(*keyvals, *r) for r in out_rows],
            columns=[*keys, ts, col, "tw_mean", "tw_var", "tw_std"],
        )
        return (last_t, last_c, last_x, sw, swv, swv2, fwv, fwv2), out

    return step


def buffer_step(
    capacity: int, col: str, ts: str, seq: str | None, keys: list[str]
) -> StepFn:
    """Count-window ``buffer`` (reference ops.rs:659-686) as a resumable
    step: flush {sum, mean, min, max, count} every ``capacity`` values,
    stamped at the last element's ts. State = the current partial group
    (streaming can't know history ended, so a trailing partial group stays
    pending — the batch operator emits it, which is exactly the delta the
    duality test accounts for). Sums in exact integer cents, converted with
    the decimal window op-order."""

    def step(state, pdf: pd.DataFrame):
        partial: list[tuple[int, int, float]] = list(state) if state else []
        order = [ts] + ([seq] if seq else [])
        pdf = in_order(pdf, order)
        keyvals = group_key(pdf, keys)
        t_arr = pdf[ts].to_numpy()
        vals = pdf[col].to_numpy(dtype=np.float64)
        out_rows = []
        for i in range(len(pdf)):
            partial.append((int(t_arr[i]), _cents(float(vals[i])),
                            float(vals[i])))
            if len(partial) == capacity:
                cs = [c for _, c, _ in partial]
                xs = [x for _, _, x in partial]
                s1, _ = _sums_from_cents(cs, xs)
                out_rows.append((
                    max(t for t, _, _ in partial),
                    s1, s1 / capacity, min(xs), max(xs), capacity,
                ))
                partial = []
        out = pd.DataFrame(
            [(*keyvals, *r) for r in out_rows],
            columns=[*keys, ts, "b_sum", "b_mean", "b_min", "b_max", "b_count"],
        )
        return partial, out

    return step


def throttle_walk(interval_ns: int, ts: str, keys: list[str]) -> WalkFn:
    """Timer-accurate throttle (``throttle_exact``, ops.rs:381-414) as a
    native multi-key walk: emit iff ts ≥ last emission + interval. A key's
    state = its next allowed ts; a missing key has emitted nothing yet, so
    its first tick always emits, however small its ts."""

    def walk(states: dict, body: pd.DataFrame):
        t = body[ts].to_numpy(dtype=np.int64).tolist()
        keep = []
        for k, a, b in runs(body, keys):
            next_ok = states.get(k)
            for i in range(a, b):
                if next_ok is None or t[i] >= next_ok:
                    keep.append(i)
                    next_ok = t[i] + interval_ns
            states[k] = next_ok
        return states, body.iloc[keep]

    return walk


def throttle_step(interval_ns: int, ts: str, keys: list[str]) -> StepFn:
    """:func:`throttle_walk` as a resumable one-key step (state = the next
    allowed ts; ``None`` starts fresh)."""
    return one_key(throttle_walk(interval_ns, ts, keys), keys)


def drop_small_change_walk(col: str, tol: float, keys: list[str]) -> WalkFn:
    """``drop_small_change`` (ops.rs:227-262) as a native multi-key walk:
    emit iff |cur − last emitted| > tol; a key's first tick always emits.
    A key's state = its last emitted value (a NaN reference suppresses
    every later tick, as ``abs(x - NaN) > tol`` is false)."""

    def walk(states: dict, body: pd.DataFrame):
        v = body[col].to_numpy(dtype=np.float64).tolist()
        keep = []
        for k, a, b in runs(body, keys):
            ref = states.get(k)
            for i in range(a, b):
                if ref is None or abs(v[i] - ref) > tol:
                    keep.append(i)
                    ref = v[i]
            states[k] = ref
        return states, body.iloc[keep]

    return walk


def drop_small_change_step(col: str, tol: float, keys: list[str]) -> StepFn:
    """:func:`drop_small_change_walk` as a resumable one-key step (state =
    the last emitted value; ``None`` starts fresh)."""
    return one_key(drop_small_change_walk(col, tol, keys), keys)


def drop_small_change_pred_walk(col: str, pred, keys: list[str]) -> WalkFn:
    """Predicate-form ``drop_small_change`` — the reference binding's
    ``(cur, prev_emitted) -> bool`` form (wingfoil-python
    tests/test_interop.py:68-107) — as a native multi-key walk. A key's
    state = a 1-tuple holding its last EMITTED value (wrapped so an
    emitted None stays a reference); a key's first tick always emits. The
    per-row Python cost is the predicate's own contract. A raising
    predicate aborts the run; a non-bool return is a TypeError naming the
    contract."""

    def walk(states: dict, body: pd.DataFrame):
        v = body[col].to_numpy()
        keep = []
        for k, a, b in runs(body, keys):
            state = states.get(k)
            for i in range(a, b):
                x = v[i]
                if state is not None:
                    small = pred(x, state[0])
                    if not isinstance(small, (bool, np.bool_)):
                        raise TypeError(
                            "drop_small_change predicate must return a bool, "
                            f"got {type(small).__name__}"
                        )
                    if small:
                        continue
                keep.append(i)
                state = (x,)
            states[k] = state
        return states, body.iloc[keep]

    return walk


def drop_small_change_pred_step(col: str, pred, keys: list[str]) -> StepFn:
    """:func:`drop_small_change_pred_walk` as a resumable one-key step
    (state = the last emitted value's 1-tuple; ``None`` starts fresh)."""
    return one_key(drop_small_change_pred_walk(col, pred, keys), keys)


def fold_walk(fn, init, cols: list[str], out: str, keys=(),
              errors: bool = False) -> WalkFn:
    """``fold_pandas``' arbitrary-closure fold ``acc' = fn(acc, row)`` as a
    native multi-key walk, emitting each intermediate accumulator in
    ``out``. A key's state = a 1-tuple holding its accumulator (so a None
    accumulator stays a state); a missing key starts from ``init``.

    ``errors``: ``Stream.try_fold``'s fallible form — a row whose ``fn``
    raises emits ``"<Type>: <message>"`` in ``error`` (and NULL ``out``)
    and leaves the accumulator unchanged; every other row emits the new
    accumulator and a NULL ``error``."""

    def walk(states: dict, body: pd.DataFrame):
        rows = body[cols].to_dict("records")
        vals, errs = [], []
        for k, a, b in runs(body, keys):
            acc = states[k][0] if k in states else init
            for r in rows[a:b]:
                try:
                    acc = fn(acc, r)
                except Exception as e:
                    if not errors:
                        raise
                    vals.append(None)
                    errs.append(f"{type(e).__name__}: {e}")
                    continue
                vals.append(acc)
                errs.append(None)
            states[k] = (acc,)
        out_pdf = body.copy()
        out_pdf[out] = vals
        if errors:
            out_pdf["error"] = errs
        return states, out_pdf

    return walk


def fold_step(fn, init, cols: list[str], out: str, keys=()) -> StepFn:
    """:func:`fold_walk` as a resumable one-key step (state = the
    accumulator 1-tuple; ``None`` starts from ``init``)."""
    return one_key(fold_walk(fn, init, cols, out, keys), keys)


def try_fold_step(fn, init, cols: list[str], out: str, keys=()) -> StepFn:
    """``Stream.try_fold``'s fallible fold (:func:`fold_walk` with
    ``errors``) as a resumable one-key step."""
    return one_key(fold_walk(fn, init, cols, out, keys, errors=True), keys)


class EventTimeTimerOp:
    """A keyed stateful op with TRUE event-time timers, bound via
    ``applyInPandasWithState`` + ``GroupStateTimeout.EventTimeTimeout``.

    The reference's timer nodes (delay ops.rs:3090-3155, delay_with_reset
    :3486-3604) fire a pending delivery when ENGINE TIME passes its fire
    time, with no new input on the node. The Spark-native equivalent of
    engine time is the watermark: the op arms a per-key timeout at its
    earliest pending fire time; when the global watermark passes it, Spark
    invokes the function for that key with ``hasTimedOut`` and an empty
    batch — a key that never receives another row still drains
    (test_streaming_timers pins exactly that).

    Hooks (all pure; state is pickled into the state store):
      ``on_data(state, pdf, wm_us)  -> (state', out_pdf)``
      ``on_timer(state, wm_us)     -> (state', out_pdf)``
      ``next_timer(state)          -> int | None``  (µs; earliest wake-up)

    Input must carry ``ts`` as long MICROseconds (the watermark column is
    derived via ``timestamp_micros``). Timer granularity is the watermark's
    (ms); the EMITTED timestamps are exact µs from state, so granularity
    affects only firing latency, never values — batch/stream duality stays
    bitwise.
    """

    def __init__(self, on_data, on_timer, next_timer, out_schema,
                 init_state, ts: str = "ts", seq: str | None = None,
                 keys: tuple[str, ...] = (), watermark_delay: str = "0 seconds",
                 order: list[str] | None = None):
        self.on_data = on_data
        self.on_timer = on_timer
        self.next_timer = next_timer
        self.out_schema = out_schema
        self.init_state = init_state
        self.ts = ts
        self.seq = seq
        self.keys = keys
        self.watermark_delay = watermark_delay
        self.order = order

    def run_stream(self, df: DataFrame) -> DataFrame:
        import pickle

        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        on_data, on_timer, next_timer = self.on_data, self.on_timer, self.next_timer
        init = self.init_state
        order = self.order or [self.ts] + ([self.seq] if self.seq else [])

        wdf = df.withColumn("__et", F.timestamp_micros(F.col(self.ts))) \
                .withWatermark("__et", self.watermark_delay)

        def fn(key, pdfs, state: GroupState):
            wm_us = state.getCurrentWatermarkMs() * 1000
            if state.exists:
                (blob,) = state.get
                st = pickle.loads(bytes(blob))
            else:
                st = init
            if state.hasTimedOut:
                st, out = on_timer(st, wm_us)
                if len(out):
                    yield out
            else:
                for pdf in pdfs:
                    pdf = in_order(pdf.drop(columns="__et"), order)
                    st, out = on_data(st, pdf, wm_us)
                    if len(out):
                        yield out
            if st is None:
                if state.exists:
                    state.remove()
            else:
                state.update((bytearray(pickle.dumps(st)),))
                nt = next_timer(st)
                if nt is not None:
                    # arm strictly ahead of the current watermark (Spark
                    # rejects a timeout at/behind it); +1ms covers µs→ms
                    # truncation so the timer never fires early
                    ms = max(nt // 1000 + 1, state.getCurrentWatermarkMs() + 1)
                    state.setTimeoutTimestamp(ms)

        return wdf.groupBy(*self.keys).applyInPandasWithState(
            fn,
            outputStructType=self.out_schema,
            stateStructType="state binary",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )


def delay_timer_op(
    delay_us: int, ts: str, vals: list[str], keys: list[str], out_schema
) -> EventTimeTimerOp:
    """``delay`` with watermark-driven firing (reference delay timer node,
    ops.rs:3090-3155): every tick schedules (t+delay, values); a pending
    delivery fires when the WATERMARK passes its fire time — zero further
    input needed on the key. TimeQueue dedup collapses identical
    (fire_at, values) schedules (runtime/time_queue.rs:136).

    Late-data contract (pinned by test_delay_timer_late_data_contract;
    the reference FORBIDS out-of-order sources — adapters/csv.rs:110-115
    panics — so this is engine-defined): a row arriving behind the
    watermark is NOT dropped; its delivery fires in the same micro-batch,
    stamped at its logical fire time (which may be behind the watermark).
    Deliveries are never lost — downstream watermark-sensitive consumers
    will see the late output row."""

    def fire(pending, upto_us):
        fired = [p for p in pending if p[0] <= upto_us]
        keep = [p for p in pending if p[0] > upto_us]
        fired.sort(key=lambda p: p[0])
        return fired, keep

    def on_data(pending, pdf: pd.DataFrame, wm_us):
        pending = list(pending) if pending else []
        keyvals = group_key(pdf, keys)
        t_arr = pdf[ts].to_numpy()
        val_arrs = [pdf[c].to_numpy() for c in vals]
        for i in range(len(pdf)):
            item = (int(t_arr[i]) + delay_us, tuple(a[i] for a in val_arrs))
            if item not in pending:
                pending.append(item)
        fired, keep = fire(pending, wm_us)
        out = pd.DataFrame(
            [(*keyvals, t, *v) for t, v in fired], columns=[*keys, ts, *vals]
        )
        return (keep, keyvals), out

    def on_timer(state, wm_us):
        pending, keyvals = state if state else ([], ())
        fired, keep = fire(list(pending), wm_us)
        out = pd.DataFrame(
            [(*keyvals, t, *v) for t, v in fired], columns=[*keys, ts, *vals]
        )
        # no pending left and nothing new coming → release the slot
        return ((keep, keyvals) if keep else None), out

    def next_timer(state):
        pending, _ = state
        return min(p[0] for p in pending) if pending else None

    def on_data_wrapped(state, pdf, wm_us):
        pending = state[0] if state else []
        return on_data(pending, pdf, wm_us)

    return EventTimeTimerOp(
        on_data_wrapped, on_timer, next_timer, out_schema,
        init_state=None, ts=ts, seq=None, keys=tuple(keys),
    )


def delay_with_reset_timer_op(
    delay_us: int, ts: str, vals: list[str], keys: list[str], out_schema
) -> EventTimeTimerOp:
    """``delay_with_reset`` with watermark-driven firing (reference timer-
    cancel node, ops.rs:3486-3604): input is the tagged union frame
    (``__trig`` 0=source / 1=trigger, ``__seq``), walked in (__t, __trig,
    __seq) order: deliveries due at/<= a row's instant fire before it; a
    trigger drops all pending and re-emits the current value. The batch
    relational plan (operators/stateful.py ``delay_with_reset``) is tested
    against this walk driven per key with the watermark at int64 max.
    Event-time guarantee makes watermark-firing safe: once the watermark
    passes a fire time, any future trigger has ts ≥ watermark and could not
    have cancelled that delivery."""

    def walk(state, pdf: pd.DataFrame, wm_us):
        pending, current, keyvals = state if state else ([], None, ())
        pending = list(pending)
        rows = []

        def flush(upto):
            nonlocal pending
            fired = sorted([p for p in pending if p[0] <= upto], key=lambda p: p[0])
            pending = [p for p in pending if p[0] > upto]
            rows.extend(fired)

        if len(pdf):
            keyvals = group_key(pdf, keys)
            t_arr = pdf["__t"].to_numpy()
            trig_arr = pdf["__trig"].to_numpy()
            val_arrs = [pdf[c].to_numpy() for c in vals]
            for i in range(len(pdf)):
                t = int(t_arr[i])
                flush(t)
                if trig_arr[i]:
                    pending.clear()
                    if current is not None:
                        rows.append((t, current))
                else:
                    current = tuple(a[i] for a in val_arrs)
                    pending.append((t + delay_us, current))
        flush(wm_us)
        out = pd.DataFrame(
            [(*keyvals, t, *v) for t, v in rows], columns=[*keys, ts, *vals]
        )
        # TimeQueue dedup on (time, value) schedules (time_queue.rs:136)
        out = out.drop_duplicates()
        return (pending, current, keyvals), out

    def on_data(state, pdf, wm_us):
        return walk(state, pdf, wm_us)

    def on_timer(state, wm_us):
        return walk(state, pd.DataFrame(), wm_us)

    def next_timer(state):
        pending, _, _ = state
        return min(p[0] for p in pending) if pending else None

    return EventTimeTimerOp(
        on_data, on_timer, next_timer, out_schema,
        init_state=None, ts="__t", keys=tuple(keys),
        order=["__t", "__trig", "__seq"],
    )
