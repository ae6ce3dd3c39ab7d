"""The multi-key walk that the packed realtime binding runs on one key
bucket (``KeyedStateOp.run_stream``): one call over a body holding many
keys must equal the one-key step called per key, on the outputs and on
the key → state map, micro-batch after micro-batch. Pure pandas — the
Spark binding itself is covered by the duality tests and
tests/test_streaming_restart.py."""

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

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


def _same_rows(a_outs, b_outs):
    def cat(outs):
        outs = [o for o in outs if len(o)]
        if not outs:
            return pd.DataFrame()
        return (pd.concat(outs, ignore_index=True)
                .sort_values(["k", "ts", "seq"], kind="mergesort")
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
