"""The multi-key walk that both keyed bindings run — the packed realtime
binding on one key bucket (``KeyedStateOp.run_stream``) and the batch
binding on one Arrow batch (``KeyedStateOp.run_batch``): one call over a
body holding many keys must equal the one-key step called per key, on
the outputs and on the key → state map, micro-batch after micro-batch;
and the batch binding's partition iterator must hand each key's whole
run to the walk however Arrow cuts the partition. Pure pandas — the
Spark bindings themselves are covered by the duality tests,
tests/test_core_ops.py and tests/test_streaming_restart.py."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T

from wingfoil_spark.operators.market import book_feed_op
from wingfoil_spark.operators.stateful import walk_batches
from wingfoil_spark.streaming import twins
from wingfoil_spark.streaming.stateful import (
    ewma_step, in_order, key_runs, lift, pack, with_close,
)
from wingfoil_spark.streaming.twins import range_stats_step, range_stats_walk

#: per-test example budget: the default lane runs these on every change
EXAMPLES = 40
KEYS = [1, 2, 7, 2**53 + 1]  # the last is not representable as float64

rows_st = st.lists(
    st.tuples(
        st.sampled_from(KEYS),
        st.integers(0, 30),                        # ts (bursts allowed)
        st.floats(-100, 100, allow_nan=False, width=32),
        st.booleans(),                             # close flag
    ),
    min_size=1, max_size=60,
)


def _frame(rows):
    """Rows in arrival order: sorted by ts, seq = arrival index."""
    rows = sorted(rows, key=lambda r: r[1])
    return pd.DataFrame(
        [(k, t, i, round(v, 2), int(c)) for i, (k, t, v, c) in enumerate(rows)],
        columns=["k", "ts", "seq", "v", "close"],
    )


def _batches(pdf, cuts):
    """Micro-batches split at instant boundaries only (an instant's rows
    arrive within one micro-batch)."""
    t = pdf["ts"].to_numpy()
    cuts = sorted({c for c in cuts if 0 < c < len(pdf) and t[c - 1] != t[c]})
    bounds = [0, *cuts, len(pdf)]
    return [pdf.iloc[a:b] for a, b in zip(bounds, bounds[1:])]


def _walked(walk, batches):
    """The binding's view: each micro-batch sorted by (keys, ts, seq) once
    and walked with the carried map."""
    states, outs = {}, []
    for b in batches:
        states, out = walk(states, in_order(b, ["k", "ts", "seq"]))
        outs.append(out)
    return states, outs


def _per_key(step, init, batches):
    """The one-key step called per key per micro-batch."""
    states, outs = {}, []
    for b in batches:
        for k, g in b.groupby("k", sort=False):
            st_, out = step(states.get((k,), init), g)
            if st_ is None:
                states.pop((k,), None)
            else:
                states[(k,)] = st_
            outs.append(out)
    return states, outs


def _same_rows(a_outs, b_outs, by=("k", "ts", "seq")):
    def cat(outs):
        outs = [o for o in outs if len(o)]
        if not outs:
            return pd.DataFrame()
        return (pd.concat(outs, ignore_index=True)
                .sort_values(list(by), kind="mergesort")
                .reset_index(drop=True))

    a, b = cat(a_outs), cat(b_outs)
    pd.testing.assert_frame_equal(a, b, check_exact=True)
    return a


@settings(max_examples=EXAMPLES, deadline=None)
@given(rows_st, st.lists(st.integers(1, 59), max_size=4))
def test_range_stats_walk_equals_per_key_steps(rows, cuts):
    """The native multi-key walk, and the one-key step lifted by the
    generic helper, both equal the one-key step called per key —
    bitwise on outputs and on the state map, every key sharing one
    bucket, micro-batches split at instant boundaries."""
    pdf = _frame(rows)
    batches = _batches(pdf, cuts)
    step = range_stats_step("v", 10, "ts", "seq", ["k"])
    native = range_stats_walk("v", 10, "ts", "seq", ["k"])
    assert pack(step, ("k",), None) is step.walk
    lifted = lift(lambda s, p: step(s, p), ("k",), None)

    want_states, want = _per_key(step, None, batches)
    for walk in (native, lifted):
        states, got = _walked(walk, batches)
        out = _same_rows(got, want)
        assert len(out) == len(pdf)
        assert states == want_states
        assert sorted(states) == sorted({(k,) for k in pdf["k"].tolist()})


@settings(max_examples=EXAMPLES, deadline=None)
@given(rows_st, st.lists(st.integers(1, 59), max_size=4))
def test_with_close_in_shared_bucket_drops_only_that_key(rows, cuts):
    """A ``with_close`` close on one key removes only that key's entry
    from the bucket's map; the other keys' states and rows are those of
    the per-key run."""
    pdf = _frame(rows)
    batches = _batches(pdf, cuts)
    init = (False, 0.0)
    step = with_close(ewma_step("v", 0.25, "ewma", ["k", "ts", "seq", "v", "close"]),
                      "close", init)
    states, got = _walked(pack(step, ("k",), init), batches)
    want_states, want = _per_key(step, init, batches)
    _same_rows(got, want)
    assert states == want_states
    # a key whose last row closes it holds no entry; every other key does
    last = pdf.groupby("k", sort=False)["close"].last()
    assert set(states) == {(k,) for k, c in last.items() if not c}


def test_key_runs_reads_nan_keys_as_one_none_key():
    """NaN keys (a nullable key column in pandas) form one run under one
    hashable key, so their state is found again in the next batch."""
    body = pd.DataFrame({"k": [1.0, 1.0, np.nan, np.nan], "j": ["a", "a", "b", "b"]})
    tuples, starts = key_runs(body, ["k", "j"])
    assert tuples == [(1.0, "a"), (None, "b")]
    assert starts == [0, 2]
    assert key_runs(body.iloc[:0], ["k"]) == ([], [])
    assert key_runs(body, []) == ([()], [0])


def _try_add(acc, row):
    if row["v"] < -50:
        raise ValueError(f"too small: {row['v']}")
    return acc + row["v"]


#: the native walks, each as its one-key step (``one_key(walk)``)
NATIVE_STEPS = {
    "throttle": lambda: twins.throttle_step(3, "ts", ["k"]),
    "drop_small_change": lambda: twins.drop_small_change_step("v", 20.0, ["k"]),
    "drop_small_change_pred": lambda: twins.drop_small_change_pred_step(
        "v", lambda cur, prev: abs(cur - prev) <= 20.0, ["k"]),
    "fold": lambda: twins.fold_step(lambda acc, r: acc + r["v"], 0.0, ["v"],
                                    "acc", ["k"]),
    "try_fold": lambda: twins.try_fold_step(_try_add, 0.0, ["v"], "acc", ["k"]),
}


@pytest.mark.parametrize("name", sorted(NATIVE_STEPS))
@settings(max_examples=EXAMPLES, deadline=None)
@given(rows=rows_st, cuts=st.lists(st.integers(1, 59), max_size=4))
def test_native_walk_equals_per_key_steps(name, rows, cuts):
    """Each native walk, run by both bindings (:func:`pack`), equals its
    one-key step called per key — bitwise on outputs and on the state
    map, every key sharing one body, micro-batches split at instant
    boundaries."""
    pdf = _frame(rows)
    batches = _batches(pdf, cuts)
    step = NATIVE_STEPS[name]()
    walk = pack(step, ("k",), None)
    assert walk is step.walk

    states, got = _walked(walk, batches)
    want_states, want = _per_key(step, None, batches)
    _same_rows(got, want)
    assert states == want_states
    assert sorted(states) == sorted({(k,) for k in pdf["k"].tolist()})


def test_pack_lifts_a_native_step_bound_to_other_keys():
    """A native step's walk runs only under the keys it was built for; an
    op keyed otherwise lifts the step, so each key still gets its own
    state."""
    step = twins.fold_step(lambda acc, r: acc + r["v"], 0.0, ["v"], "acc")
    body = pd.DataFrame({"k": [1, 1, 2], "ts": [0, 1, 0], "v": [1.0, 2.0, 5.0]})
    assert pack(step, (), None) is step.walk
    walk = pack(step, ("k",), None)
    assert walk is not step.walk
    states, out = walk({}, body)
    assert out["acc"].tolist() == [1.0, 3.0, 5.0]
    assert states == {(1,): (3.0,), (2,): (5.0,)}


feed_st = st.lists(
    st.tuples(
        st.sampled_from(KEYS),
        st.integers(0, 20),                        # ts (bursts allowed)
        st.integers(0, 5),                         # 0 = snapshot, else delta
        st.booleans(),                             # bid side?
        st.integers(95, 105),                      # price
        st.integers(0, 3),                         # qty (0 removes the level)
        st.integers(0, 3),                         # seq step (0 = same batch, 2+ = gap)
    ),
    min_size=1, max_size=60,
)


@settings(max_examples=EXAMPLES, deadline=None)
@given(feed_st, st.lists(st.integers(1, 59), max_size=4))
def test_book_feed_walk_equals_per_key_steps(rows, cuts):
    """The feed-handler book's native walk equals its one-key step called
    per key (snapshots, same-seq change batches, gaps and pre-snapshot
    buffering), on the rows and on each key's state."""
    rows = sorted(rows, key=lambda r: r[1])
    seq = {}
    recs = []
    for k, t, kind, bid, px, qty, step_ in rows:
        seq[k] = seq.get(k, 0) + step_
        recs.append(dict(
            k=k, ts=t, seq=seq[k], kind="delta" if kind else "snapshot",
            side="bid" if bid else "ask", price=float(px), qty=float(qty),
            bid_price=float(px - 1), bid_qty=1.0,
            ask_price=float(px + 1), ask_qty=1.0,
        ))
    pdf = pd.DataFrame(recs)
    batches = _batches(pdf, cuts)
    step = book_feed_op([T.StructField("k", T.LongType())]).step
    walk = pack(step, ("k",), None)
    assert walk is step.walk

    def normalized(outs):
        return [o.astype(object).where(o.notna(), None) for o in outs]

    states, got = _walked(walk, batches)
    want_states, want = _per_key(step, None, batches)
    _same_rows(normalized(got), normalized(want), by=("k", "ts"))
    assert states == want_states


# ------------------------------------------- the batch binding's iterator

iter_st = st.lists(
    st.tuples(
        st.sampled_from([1.0, 2.0, np.nan, 2.0**53]),   # k: NaN (a null bigint)
        st.sampled_from(["a", None]),                  # j: None = a null key
        st.integers(0, 9),                             # ts
        st.floats(-100, 100, allow_nan=False, width=32),
    ),
    max_size=40,
)


#: keys given a 5-row run that Arrow cuts into three batches
LONG_RUNS = [(2.0, "a"), (np.nan, None)]


def _sorted_body(rows, keys):
    """A partition as the batch binding sorts it: clustered by ``keys``
    (null keys first), then (ts, seq), with a 5-row run for each of
    ``LONG_RUNS``."""
    rows = [(k, j, t, float(t)) for k, j in LONG_RUNS for t in range(5)] + rows
    pdf = pd.DataFrame(
        [(k, j, t, i, round(v, 2)) for i, (k, j, t, v) in enumerate(rows)],
        columns=["k", "j", "ts", "seq", "v"],
    )
    return pdf.sort_values([*keys, "ts", "seq"], kind="mergesort",
                           na_position="first").reset_index(drop=True)


def _arrow_batches(pdf, keys, cuts):
    """``pdf`` cut at the given rows plus two cuts inside the first rows
    of each of ``LONG_RUNS`` (of the whole body when keyless), as Arrow
    batches of one partition (fresh 0-based indexes)."""
    firsts = [0]
    if keys:
        firsts = [int(np.flatnonzero(pdf["k"].isna() if k != k else
                                     (pdf["k"] == k) & (pdf["j"] == j))[0])
                  for k, j in LONG_RUNS]
    forced = [f + d for f in firsts for d in (1, 2)]
    cuts = sorted({c for c in [*cuts, *forced] if 0 < c < len(pdf)})
    bounds = [0, *cuts, len(pdf)]
    return [pdf.iloc[a:b].reset_index(drop=True) for a, b in zip(bounds, bounds[1:])]


@pytest.mark.parametrize("keys", [["k", "j"], []], ids=["keyed", "keyless"])
@settings(max_examples=EXAMPLES, deadline=None)
@given(rows=iter_st, cuts=st.lists(st.integers(1, 49), max_size=6))
def test_walk_batches_equals_per_key_steps(keys, rows, cuts):
    """The batch binding's partition iterator, over any Arrow cut of a
    sorted partition, hands the walk each key's whole run: its output
    equals the one-key step called once per key — null (None) and NaN
    keys included, runs spanning three batches, and keyless input as
    one run."""
    pdf = _sorted_body(rows, keys)
    batches = _arrow_batches(pdf, keys, cuts)
    step = twins.fold_step(lambda acc, r: acc + r["v"], 0.0, ["v"], "acc", keys)
    cols = ["k", "j", "ts", "seq", "v", "acc"]

    want = [step(None, g)[1] for _, g in
            (pdf.groupby(keys, sort=False, dropna=False) if keys else [((), pdf)])]
    for walk in (pack(step, keys, None), lift(step, keys, None)):
        got = list(walk_batches(iter(batches), walk, keys, cols))
        assert all(list(o.columns) == cols for o in got)
        _same_rows(got, want, by=("seq",))
