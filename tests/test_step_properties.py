"""Property-based tests for the KeyedStateOp step kernels (hypothesis).

The step functions are the single source of operator semantics for both
run modes, so they get adversarial inputs here: random tick streams,
random micro-batch splits — a step must produce identical output whether
it sees the whole history at once or any chunking of it (the resumability
law that makes run-mode duality hold), and must agree with a naive
reference model. Pure python/pandas — no SparkSession needed, except for
the batch operators whose plans or steps are not exposed as steps.
"""

import numpy as np
import warnings

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from wingfoil_spark.operators.market import order_book_step
from wingfoil_spark.streaming.twins import combine_step, rolling_stats_step


def _chunks(pdf, cuts):
    bounds = [0] + sorted(set(cuts)) + [len(pdf)]
    return [pdf.iloc[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]


def _run_chunked(step, init, pdf, cuts):
    st_, outs = init, []
    for chunk in _chunks(pdf, cuts):
        st_, out = step(st_, chunk)
        if len(out):
            outs.append(out)
    if not outs:
        return pd.DataFrame()
    with warnings.catch_warnings():
        # all-NA columns in SOME chunks are legitimate here (a key can be
        # silent in a chunk); the tests compare values after an explicit
        # sort + reset, so the future dtype-determination change cannot
        # alter the comparison — suppress like operators.stateful._concat
        warnings.simplefilter("ignore", FutureWarning)
        return pd.concat(outs, ignore_index=True)


events = st.lists(
    st.tuples(
        st.integers(0, 50),             # ts (duplicates allowed)
        st.integers(0, 1),              # side / flag
        st.floats(-100, 100, allow_nan=False, width=32),
    ),
    min_size=1, max_size=40,
)


@settings(max_examples=60, deadline=None)
@given(events, st.lists(st.integers(1, 39), max_size=3))
def test_combine_step_chunking_invariant(rows, cuts):
    rows = sorted(rows)
    pdf = pd.DataFrame(
        [(1, t, side, i, v if side else None, None if side else v)
         for i, (t, side, v) in enumerate(rows)],
        columns=["k", "ts", "__side", "__seq", "l", "r"],
    )
    step = combine_step("ts", ["l"], ["r"], ["k"], emit="left")
    _, whole = step(None, pdf)
    # chunk at instant boundaries only (the documented burst-atomicity
    # contract: an instant's rows arrive within one micro-batch)
    ts_sorted = pdf["ts"].to_numpy()
    cuts = [c for c in cuts if c < len(pdf) and ts_sorted[c - 1] != ts_sorted[c]]
    chunked = _run_chunked(step, None, pdf, cuts)
    assert len(whole) == len(chunked)
    if len(whole):
        for c in ("ts", "l", "r"):
            a = whole[c].to_numpy(dtype=float)
            b = chunked[c].to_numpy(dtype=float)
            assert ((a == b) | (np.isnan(a) & np.isnan(b))).all()


@settings(max_examples=60, deadline=None)
@given(events, st.lists(st.integers(1, 39), max_size=3))
def test_rolling_stats_step_matches_naive_model(rows, cuts):
    rows = sorted(rows)
    pdf = pd.DataFrame(
        [(1, t, i, round(v, 2)) for i, (t, _, v) in enumerate(rows)],
        columns=["k", "ts", "seq", "v"],
    )
    step = rolling_stats_step("v", 5, "ts", "seq", ["k"])
    cuts = [c for c in cuts if c < len(pdf)]
    out = _run_chunked(step, None, pdf, cuts)
    vals = pdf["v"].to_numpy()
    for i in range(len(pdf)):
        w = vals[max(0, i - 4): i + 1]
        assert out["st_min"].iloc[i] == w.min()
        assert out["st_max"].iloc[i] == w.max()
        assert abs(out["st_sum"].iloc[i] - round(w.sum(), 2)) < 1e-9
        sw = np.sort(w)
        n = len(sw)
        med = (sw[(n + 1) // 2 - 1] + sw[n // 2]) / 2
        assert out["st_median"].iloc[i] == med


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 1),          # snapshot?
            st.integers(0, 1),          # bid side?
            st.integers(0, 5),          # level
            st.integers(-2, 7),         # qty delta
        ),
        min_size=1, max_size=50,
    ),
    st.lists(st.integers(1, 49), max_size=3),
)
def test_order_book_step_matches_naive_model(updates, cuts):
    pdf = pd.DataFrame(
        [(i, i, "snapshot" if snap else "delta", "bid" if bid else "ask", lvl, qd)
         for i, (snap, bid, lvl, qd) in enumerate(updates)],
        columns=["ts", "upd_seq", "kind", "side", "level", "qty_delta"],
    )
    cuts = [c for c in cuts if c < len(pdf)]
    out_chunks = []
    state = None
    for chunk in _chunks(pdf, cuts):
        state, out = order_book_step(state, chunk)
        out_chunks.append(out)
    out = pd.concat(out_chunks, ignore_index=True)

    bids, asks = {}, {}
    for i, (snap, bid, lvl, qd) in enumerate(updates):
        if snap:
            bids, asks = {}, {}
            if qd > 0:
                (bids if bid else asks)[lvl] = qd
        else:
            book = bids if bid else asks
            q = book.get(lvl, 0) + qd
            if q <= 0:
                book.pop(lvl, None)
            else:
                book[lvl] = q
        bb = max(bids) if bids else None
        ba = min(asks) if asks else None
        r = out.iloc[i]
        assert (pd.isna(r["best_bid"]) and bb is None) or r["best_bid"] == bb
        assert (pd.isna(r["best_ask"]) and ba is None) or r["best_ask"] == ba
        assert r["n_bid_levels"] == len(bids)
        assert r["n_ask_levels"] == len(asks)
        if bb is not None:
            assert r["bid_qty"] == bids[bb]


@settings(max_examples=50, deadline=None)
@given(events, st.lists(st.integers(1, 39), max_size=3))
def test_range_stats_step_chunking_and_model(rows, cuts):
    """range_stats_step: chunking-invariant (instant-boundary splits) and
    equal to a naive per-row window model over ts in [t-W, t]."""
    from wingfoil_spark.streaming.twins import range_stats_step

    W = 10
    rows = sorted(rows)
    pdf = pd.DataFrame(
        [(1, t, i, round(v, 2)) for i, (t, _, v) in enumerate(rows)],
        columns=["k", "ts", "seq", "v"],
    )
    step = range_stats_step("v", W, "ts", "seq", ["k"])
    _, whole = step(None, pdf)
    ts_sorted = pdf["ts"].to_numpy()
    cuts = [c for c in cuts if c < len(pdf) and ts_sorted[c - 1] != ts_sorted[c]]
    chunked = _run_chunked(step, None, pdf, cuts)
    assert len(whole) == len(chunked) == len(pdf)
    for c in ("st_sum", "st_mean", "st_min", "st_max", "st_median"):
        a = whole[c].to_numpy(dtype=float)
        b = chunked[c].to_numpy(dtype=float)
        assert ((a == b) | (np.isnan(a) & np.isnan(b))).all(), c
    # naive model
    for i in range(len(pdf)):
        t = pdf["ts"].iloc[i]
        frame = pdf[(pdf["ts"] >= t - W) & (pdf["ts"] <= t)]["v"]
        assert abs(whole["st_sum"].iloc[i] - frame.sum()) < 1e-6
        assert whole["st_min"].iloc[i] == frame.min()
        assert whole["st_max"].iloc[i] == frame.max()


@settings(max_examples=50, deadline=None)
@given(events, st.lists(st.integers(1, 39), max_size=3))
def test_buffer_step_chunking_and_model(rows, cuts):
    """buffer_step: complete groups are chunking-invariant and match the
    naive capacity-grouped model; the pending partial carries in state."""
    from wingfoil_spark.streaming.twins import buffer_step

    CAP = 4
    rows = sorted(rows)
    pdf = pd.DataFrame(
        [(1, t, i, round(v, 2)) for i, (t, _, v) in enumerate(rows)],
        columns=["k", "ts", "seq", "v"],
    )
    step = buffer_step(CAP, "v", "ts", "seq", ["k"])
    st1, whole = step(None, pdf)
    chunked = _run_chunked(step, None, pdf, cuts)
    n_groups = len(pdf) // CAP
    assert len(whole) == n_groups
    assert len(chunked) == n_groups
    if n_groups:
        for c in ("b_sum", "b_mean", "b_min", "b_max", "b_count"):
            assert (whole[c].to_numpy() == chunked[c].to_numpy()).all(), c
        # naive model on the first group
        g = pdf.sort_values(["ts", "seq"]).iloc[:CAP]["v"]
        assert abs(whole["b_sum"].iloc[0] - g.sum()) < 1e-6
        assert whole["b_count"].iloc[0] == CAP
    assert len(st1) == len(pdf) % CAP  # pending partial


@settings(max_examples=30, deadline=None)
@given(events, st.lists(st.integers(1, 39), max_size=3))
def test_tw_profile_step_chunking_invariant(rows, cuts):
    """tw_profile_step re-runs the shared kernel on accumulated history —
    output must be identical under any chunking (exact, not approximate)."""
    from wingfoil_spark.streaming.twins import tw_profile_step

    rows = sorted(rows)
    # distinct ts per key (the kernel's documented precondition for the
    # batch/stream tie: ties resolved by seq are not modeled ts-only)
    seen, uniq = set(), []
    for t, _, v in rows:
        if t not in seen:
            seen.add(t)
            uniq.append((t, v))
    pdf = pd.DataFrame(
        [(1, t, round(v, 2)) for t, v in uniq], columns=["k", "ts", "v"]
    )
    step = tw_profile_step("v", 10, "ts", ["k"])
    _, whole = step(None, pdf)
    chunked = _run_chunked(step, None, pdf, cuts)
    assert len(whole) == len(chunked) == len(pdf)
    for c in ("tw_mean", "tw_var", "tw_median"):
        a = whole[c].to_numpy(dtype=float)
        b = chunked[c].to_numpy(dtype=float)
        assert (a == b).all(), c


@settings(max_examples=50, deadline=None)
@given(events, st.lists(st.integers(1, 39), max_size=3))
def test_cum_stats_step_chunking_and_model(rows, cuts):
    """cum_stats_step (r4): chunking-invariant and equal to a naive
    expanding-window model, exact median included."""
    from wingfoil_spark.streaming.twins import cum_stats_step

    rows = sorted(rows)
    pdf = pd.DataFrame(
        [(1, t, i, round(v, 2)) for i, (t, _, v) in enumerate(rows)],
        columns=["k", "ts", "seq", "v"],
    )
    step = cum_stats_step("v", "ts", "seq", ["k"])
    _, whole = step(None, pdf)
    chunked = _run_chunked(step, None, pdf, [c for c in cuts if c < len(pdf)])
    assert len(whole) == len(chunked) == len(pdf)
    for c in ("st_sum", "st_mean", "st_min", "st_max", "st_var", "st_std",
              "st_median"):
        a = whole[c].to_numpy(dtype=float)
        b = chunked[c].to_numpy(dtype=float)
        assert (a == b).all(), c
    vals = pdf["v"].to_numpy()
    for i in range(len(pdf)):
        w = vals[: i + 1]
        assert whole["st_min"].iloc[i] == w.min()
        assert whole["st_max"].iloc[i] == w.max()
        assert abs(whole["st_sum"].iloc[i] - round(w.sum(), 2)) < 1e-9
        sw = np.sort(w)
        n = len(sw)
        assert whole["st_median"].iloc[i] == (sw[(n + 1) // 2 - 1] + sw[n // 2]) / 2


@settings(max_examples=50, deadline=None)
@given(events, st.lists(st.integers(1, 39), max_size=3))
def test_tw_cum_step_chunking_and_model(rows, cuts):
    """tw_cum_step (r4): chunking-invariant; mean equals the naive
    committed-weight model (newest sample uncredited)."""
    from wingfoil_spark.streaming.twins import tw_cum_step

    rows = sorted(rows)
    seen, uniq = set(), []
    for t, _, v in rows:
        if t not in seen:
            seen.add(t)
            uniq.append((t, v))
    pdf = pd.DataFrame(
        [(1, t, round(v, 2)) for t, v in uniq], columns=["k", "ts", "v"]
    )
    step = tw_cum_step("v", "ts", ["k"])
    _, whole = step(None, pdf)
    chunked = _run_chunked(step, None, pdf, [c for c in cuts if c < len(pdf)])
    assert len(whole) == len(chunked) == len(pdf)
    for c in ("tw_mean", "tw_var", "tw_std"):
        a = whole[c].to_numpy(dtype=float)
        b = chunked[c].to_numpy(dtype=float)
        assert (a == b).all(), c
    ts = pdf["ts"].to_numpy()
    vals = pdf["v"].to_numpy()
    for i in range(len(pdf)):
        ws = np.diff(ts[: i + 1]).astype(float)
        if ws.sum() == 0:
            assert whole["tw_mean"].iloc[i] == vals[i]
        else:
            m = (vals[:i] * ws).sum() / ws.sum()
            assert abs(whole["tw_mean"].iloc[i] - m) < 1e-9


@settings(max_examples=50, deadline=None)
@given(events, st.lists(st.integers(1, 39), max_size=3),
       st.sampled_from([("rows", 4), ("range", 10)]))
def test_tw_window_step_chunking_and_model(rows, cuts, frame):
    """tw_window_step (r4): chunking-invariant across rows AND range
    frames; median matches the reference crossing-rule select over the
    strictly-prior candidate set."""
    from wingfoil_spark.operators.stateful import _weighted_median_select
    from wingfoil_spark.streaming.twins import tw_window_step

    rows = sorted(rows)
    seen, uniq = set(), []
    for t, _, v in rows:
        if t not in seen:
            seen.add(t)
            uniq.append((t, v))
    pdf = pd.DataFrame(
        [(1, t, round(v, 2)) for t, v in uniq], columns=["k", "ts", "v"]
    )
    step = tw_window_step("v", frame, "ts", ["k"])
    _, whole = step(None, pdf)
    chunked = _run_chunked(step, None, pdf, [c for c in cuts if c < len(pdf)])
    assert len(whole) == len(chunked) == len(pdf)
    for c in ("tw_mean", "tw_var", "tw_std", "tw_median"):
        a = whole[c].to_numpy(dtype=float)
        b = chunked[c].to_numpy(dtype=float)
        assert (a == b).all(), c
    ts = pdf["ts"].to_numpy()
    vals = pdf["v"].to_numpy()
    wdiff = np.append(np.diff(ts).astype(float), np.nan)
    for i in range(len(pdf)):
        if frame[0] == "rows":
            lo = max(0, i - (frame[1] - 1))
        else:
            lo = int(np.searchsorted(ts, ts[i] - frame[1], side="left"))
        vv, ww = vals[lo:i], wdiff[lo:i]
        mask = ww > 0
        exp = _weighted_median_select(vv[mask], ww[mask], vals[i])
        assert whole["tw_median"].iloc[i] == exp, i


# ------------------------- one step per operator, both run modes
# drop_small_change, throttle_exact and fold_pandas run the SAME twin step
# in batch (whole history, one call) and stream (any micro-batch split);
# each is checked against a plain-Python model written independently of it.


def _kept_rows(out):
    return [] if not len(out) else out["i"].tolist()


def _model_drop_small_change(xs, small):
    """Index i emits iff nothing was emitted before it or
    ``small(x_i, x_j)`` is false for the last emitted index j."""
    emitted = []
    for i, x in enumerate(xs):
        if not emitted or not small(x, xs[emitted[-1]]):
            emitted.append(i)
    return emitted


@settings(max_examples=80, deadline=None)
@given(
    st.lists(st.one_of(st.none(), st.just(float("nan")),
                       st.floats(-50, 50, allow_nan=False)), max_size=30),
    st.sampled_from([0.0, 1.5, 10.0]),
    st.lists(st.integers(1, 29), max_size=3),
)
def test_drop_small_change_step_matches_model(xs, tol, cuts):
    """Float form: NaN/None values (None arrives as NaN in a double
    column) compare false, so a NaN tick never emits after the first and
    a NaN reference suppresses the rest."""
    from wingfoil_spark.streaming.twins import drop_small_change_step

    pdf = pd.DataFrame({"i": range(len(xs)), "v": xs}, dtype=float)
    step = drop_small_change_step("v", tol, [])
    exp = _model_drop_small_change(
        pdf["v"].tolist(), lambda cur, ref: not (abs(cur - ref) > tol))
    assert _kept_rows(_run_chunked(step, None, pdf, [])) == exp
    assert _kept_rows(_run_chunked(step, None, pdf, cuts)) == exp


@settings(max_examples=80, deadline=None)
@given(
    st.lists(st.one_of(st.none(), st.integers(-3, 3)), max_size=30),
    st.lists(st.integers(1, 29), max_size=3),
)
def test_drop_small_change_pred_step_matches_model(xs, cuts):
    """Predicate form over an object column holding None: an emitted None
    is a reference like any other (it neither re-emits the next tick nor
    releases the state slot)."""
    from wingfoil_spark.streaming.twins import drop_small_change_pred_step

    def pred(cur, prev):
        if cur is None or prev is None:
            return cur is prev
        return abs(cur - prev) < 2

    pdf = pd.DataFrame({"i": range(len(xs)),
                        "v": pd.Series(xs, dtype=object)})
    step = drop_small_change_pred_step("v", pred, [])
    exp = _model_drop_small_change(xs, pred)
    assert _kept_rows(_run_chunked(step, None, pdf, [])) == exp
    assert _kept_rows(_run_chunked(step, None, pdf, cuts)) == exp


def test_drop_small_change_pred_step_rejects_non_bool():
    from wingfoil_spark.streaming.twins import drop_small_change_pred_step

    step = drop_small_change_pred_step("v", lambda cur, prev: "no", [])
    pdf = pd.DataFrame({"v": [1.0, 2.0]})
    st_, out = step(None, pdf.iloc[:1])  # the first tick calls no predicate
    assert len(out) == 1
    with pytest.raises(TypeError, match="must return a bool, got str"):
        step(st_, pdf.iloc[1:])


def _model_throttle(ts, interval):
    emitted = []
    for i, t in enumerate(ts):
        if not emitted or t - ts[emitted[-1]] >= interval:
            emitted.append(i)
    return emitted


@settings(max_examples=80, deadline=None)
@given(
    st.lists(st.integers(-(1 << 63), (1 << 63) - 1), max_size=30),
    st.sampled_from([0, 1, 7, 1 << 62]),
    st.lists(st.integers(1, 29), max_size=3),
)
def test_throttle_step_matches_model(ts, interval, cuts):
    """Any int64 ts, including ticks below -2**62."""
    from wingfoil_spark.streaming.twins import throttle_step

    ts = sorted(ts)
    pdf = pd.DataFrame({"i": range(len(ts)),
                        "ts": np.array(ts, dtype=np.int64)})
    step = throttle_step(interval, "ts", [])
    exp = _model_throttle(ts, interval)
    assert _kept_rows(_run_chunked(step, None, pdf, [])) == exp
    assert _kept_rows(_run_chunked(step, None, pdf, cuts)) == exp


def test_throttle_step_first_tick_below_minus_2_62_emits():
    """A key's first tick emits however small its ts (missing state means
    nothing emitted yet, not a -2**62 timer)."""
    from wingfoil_spark.streaming.twins import throttle_step

    t0 = -(1 << 62) - 5
    pdf = pd.DataFrame({"ts": np.array([t0, t0 + 3, t0 + 10], dtype=np.int64)})
    _, out = throttle_step(10, "ts", [])(None, pdf)
    assert out["ts"].tolist() == [t0, t0 + 10]


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(-5, 5), max_size=30),
    st.sampled_from([0, 100, None]),
    st.lists(st.integers(1, 29), max_size=3),
)
def test_fold_step_matches_model(xs, init, cuts):
    """The accumulator starts from ``init`` once per key, not per
    micro-batch; a None accumulator stays state (it is wrapped)."""
    from functools import reduce

    from wingfoil_spark.streaming.twins import fold_step

    def fn(acc, row):
        if row["v"] < -3:
            return None
        return (0 if acc is None else acc) * 2 + row["v"]

    pdf = pd.DataFrame({"i": range(len(xs)), "v": xs})
    step = fold_step(fn, init, ["v"], "acc")
    rows = [{"v": x} for x in xs]
    exp = [reduce(fn, rows[:n + 1], init) for n in range(len(rows))]
    for chunking in ([], cuts):
        out = _run_chunked(step, None, pdf, chunking)
        got = [] if not len(out) else [
            None if a is None or a != a else int(a) for a in out["acc"]]
        assert got == exp


# ----------------------------------------------------------- in_order


def _frames():
    """Frames in random order with tied ts and tied seq, a shuffled
    non-default index, and ts as int, NaN-free float, float with NaN,
    object, or nullable Int64."""
    kinds = st.sampled_from(["int", "float", "nan", "object", "nullable"])
    row = st.tuples(st.integers(0, 6), st.integers(0, 3), st.booleans())
    return st.tuples(kinds, st.lists(row, max_size=25), st.randoms())


def _frame(kind, rows, rnd):
    ts = [t for t, _, _ in rows]
    if kind == "float":
        ts = [t / 2 - 1.0 for t in ts]
    elif kind == "nan":
        ts = [np.nan if null else t / 2 for t, _, null in rows]
    elif kind == "object":
        ts = pd.Series([None if null else t for t, _, null in rows], dtype=object)
    elif kind == "nullable":
        ts = pd.array([None if null else t for t, _, null in rows], dtype="Int64")
    labels = list(range(100, 100 + len(rows)))
    rnd.shuffle(labels)
    return pd.DataFrame(
        {"ts": ts, "seq": [q for _, q, _ in rows], "v": np.arange(len(rows)) * 0.5},
        index=labels,
    )


@settings(max_examples=200, deadline=None)
@given(_frames(), st.sampled_from([["ts"], ["ts", "seq"]]))
def test_in_order_equals_stable_sort(frame, order):
    """in_order is sort_values(order, kind="mergesort") — values AND index —
    on ties, nulls and object columns; sorted input comes back as itself."""
    from wingfoil_spark.streaming.stateful import in_order

    pdf = _frame(*frame)
    expected = pdf.sort_values(order, kind="mergesort")
    pd.testing.assert_frame_equal(in_order(pdf, order), expected)
    if frame[0] in ("int", "float"):
        assert in_order(expected, order) is expected
    pd.testing.assert_frame_equal(in_order(expected, order), expected)


@pytest.mark.parametrize("n", [0, 1])
def test_in_order_empty_and_one_row(n):
    from wingfoil_spark.streaming.stateful import in_order

    pdf = pd.DataFrame({"ts": [None] * n, "seq": [1] * n}, dtype=object)
    assert in_order(pdf, ["ts", "seq"]) is pdf


# ------------------------------------------------- int64 keys above 2**53

BIG_KEY = 2**53 + 1  # not representable as float64


def _big_key_cases():
    from wingfoil_spark.streaming import twins

    def ticks(**extra):
        n = 6
        return pd.DataFrame({"k": np.full(n, BIG_KEY, dtype=np.int64),
                             "ts": np.arange(n, dtype=np.int64) * 2,
                             "seq": np.arange(n, dtype=np.int64),
                             "v": np.linspace(1.0, 3.5, n), **extra})

    def tagged():
        pdf = ticks(__side=np.array([0, 1] * 3), __seq=np.arange(6))
        pdf["l"] = np.where(pdf["__side"] == 1, pdf["v"], np.nan)
        pdf["r"] = np.where(pdf["__side"] == 0, pdf["v"], np.nan)
        return pdf

    def resets():
        pdf = ticks(__trig=np.array([0, 0, 1, 0, 0, 0]), __seq=np.arange(6))
        return pdf.rename(columns={"ts": "__t"})

    wm = 10**6  # far past every fire time
    k = ["k"]
    return {
        "combine": (twins.combine_step("ts", ["l"], ["r"], k), tagged),
        "rolling_stats": (twins.rolling_stats_step("v", 3, "ts", "seq", k), ticks),
        "range_stats": (twins.range_stats_step("v", 5, "ts", "seq", k), ticks),
        "tw_profile": (twins.tw_profile_step("v", 5, "ts", k), ticks),
        "tw_range": (twins.tw_range_step("v", 5, "ts", k), ticks),
        "cum_stats": (twins.cum_stats_step("v", "ts", "seq", k), ticks),
        "tw_window": (twins.tw_window_step("v", ("rows", 3), "ts", k), ticks),
        "tw_cum": (twins.tw_cum_step("v", "ts", k), ticks),
        "buffer": (twins.buffer_step(2, "v", "ts", "seq", k), ticks),
        "delay_timer": (lambda st_, pdf: twins.delay_timer_op(
            3, "ts", ["v"], k, None).on_data(st_, pdf, wm), ticks),
        "delay_with_reset_timer": (lambda st_, pdf: twins.delay_with_reset_timer_op(
            3, "ts", ["v"], k, None).on_data(st_, pdf, wm), resets),
    }


@pytest.mark.parametrize("name", sorted(_big_key_cases()))
def test_step_returns_int64_key_above_2_53_exactly(name):
    """Every twin step emits the group's key as read from its own column:
    a row read upcasts to float64 next to a float column and rounds
    2**53 + 1 to 2**53."""
    step, make_input = _big_key_cases()[name]
    _, out = step(None, make_input())
    assert len(out)
    assert [int(x) for x in out["k"]] == [BIG_KEY] * len(out)


def test_packed_operators_return_int64_key_above_2_53_exactly(
        spark, delay_with_reset_walk):
    """delay_with_reset (its batch plan and the timer walk it is checked
    against) and the packed batch operator with a private step,
    dynamic_group."""
    from wingfoil_spark import Stream
    from wingfoil_spark.operators.dynamic import dynamic_group
    from wingfoil_spark.operators.stateful import delay_with_reset

    def s(rows, schema="k long, ts long, v double"):
        return Stream(spark.createDataFrame(rows, schema), ts="ts", keys=("k",))

    src = s([(BIG_KEY, 10, 1.0), (BIG_KEY, 30, 3.0)])
    trig = s([(BIG_KEY, 35)], "k long, ts long")
    out = delay_with_reset(src, 20, trig, value_cols=["v"])
    got = sorted((r.k, r.ts) for r in out.df.collect())
    assert got == [(BIG_KEY, 30), (BIG_KEY, 35)]
    walked = delay_with_reset_walk(src.df.toPandas(), trig.df.toPandas(),
                                   20, "ts", None, ["k"], ["v"])
    assert sorted(zip(walked["k"].tolist(), walked["ts"].tolist())) == got

    data = s([(BIG_KEY, 3, 2.0)])
    add = s([(BIG_KEY, 2)], "k long, ts long")
    rem = s([], "k long, ts long")
    got = [(r.k, r.member_acc) for r in dynamic_group(data, add, rem, "v").df.collect()]
    assert got == [(BIG_KEY, 2.0)]
