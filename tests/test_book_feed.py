"""Feed-handler order-book goldens, replayed from the reference's
market_adapter.rs test suite with the same update sequences and expected
(time, status, value) outputs. Pure step-function tests (no Spark) — the
step is the semantics for both run modes via KeyedStateOp.
"""

import pandas as pd

from wingfoil_spark.operators.market import book_feed_step


def _snapshot(ts, seq, bid, ask):
    return dict(ts=ts, seq=seq, kind="snapshot", side=None, price=None, qty=None,
                bid_price=bid[0], bid_qty=bid[1], ask_price=ask[0], ask_qty=ask[1])


def _delta(ts, seq, side, price, qty):
    return dict(ts=ts, seq=seq, kind="delta", side=side, price=price, qty=qty,
                bid_price=None, bid_qty=None, ask_price=None, ask_qty=None)


def _run(updates):
    _, out = book_feed_step(None, pd.DataFrame(updates))
    return out


def test_order_book_ticks_at_update_times():
    """market_adapter.rs:56-88: snapshot mid 101, better bid → 101.5,
    removing the only ask → no mid."""
    out = _run([
        _snapshot(100, 1, (100.0, 1.0), (102.0, 1.0)),
        _delta(200, 2, "bid", 101.0, 1.0),
        _delta(300, 3, "ask", 102.0, 0.0),
    ])
    mids = [
        (r.ts, (r.best_bid + r.best_ask) / 2
         if r.best_bid is not None and not pd.isna(r.best_bid)
         and r.best_ask is not None and not pd.isna(r.best_ask) else None)
        for r in out.itertuples()
    ]
    assert mids == [(100, 101.0), (200, 101.5), (300, None)]


def test_burst_applies_every_update_not_just_the_last():
    """market_adapter.rs:94-139: three same-instant level inserts = ONE
    tick with all four levels, touch is the best — not the last sent."""
    out = _run([
        _snapshot(100, 1, (100.0, 1.0), (110.0, 1.0)),
        _delta(200, 2, "bid", 100.5, 1.0),
        _delta(200, 3, "bid", 100.75, 1.0),
        _delta(200, 4, "bid", 100.25, 1.0),
    ])
    got = [(r.ts, r.best_bid, r.n_bid_levels) for r in out.itertuples()]
    assert got == [(100, 100.0, 1), (200, 100.75, 4)]


def test_gap_ticks_and_book_is_unquotable():
    """market_adapter.rs:140-179: a seq gap ticks once with an unquotable
    book, refuses further deltas, and a fresh snapshot recovers."""
    out = _run([
        _snapshot(100, 10, (100.0, 1.0), (102.0, 1.0)),
        _delta(200, 13, "bid", 101.0, 1.0),   # 11, 12 lost → gap
        _delta(300, 14, "bid", 101.5, 1.0),   # refused: no tick at 300
        _snapshot(400, 20, (103.0, 1.0), (104.0, 1.0)),
    ])
    got = [(r.ts, r.status, not pd.isna(r.best_bid)) for r in out.itertuples()]
    assert got == [(100, "live", True), (200, "gapped", False), (400, "live", True)]


def test_pre_snapshot_deltas_are_quiet_then_replayed():
    """market_adapter.rs:184-219: pre-snapshot deltas buffer quietly; the
    snapshot (seq 6) drops <= 6 and replays 7 on top, ticking once."""
    out = _run([
        _delta(100, 5, "bid", 100.0, 5.0),
        _delta(200, 6, "bid", 100.0, 6.0),
        _delta(300, 7, "bid", 100.0, 7.0),
        _snapshot(400, 6, (99.0, 1.0), (101.0, 1.0)),
    ])
    got = [(r.ts, r.best_bid, r.bid_qty) for r in out.itertuples()]
    assert got == [(400, 100.0, 7.0)]


def test_resumable_across_chunks():
    """The same walk split at arbitrary points carries state correctly —
    the resumability contract that binds it to streaming."""
    upds = [
        _snapshot(100, 1, (100.0, 1.0), (102.0, 1.0)),
        _delta(200, 2, "bid", 101.0, 1.0),
        _delta(250, 3, "ask", 103.0, 2.0),
        _delta(300, 5, "bid", 99.0, 1.0),     # gap (4 missing)
        _snapshot(400, 9, (103.0, 1.0), (104.0, 1.0)),
    ]
    whole = _run(upds)
    state, outs = None, []
    for chunk in (upds[:2], upds[2:4], upds[4:]):
        state, out = book_feed_step(state, pd.DataFrame(chunk))
        outs.append(out)
    chunked = pd.concat(outs, ignore_index=True)
    assert len(whole) == len(chunked)
    for c in whole.columns:
        a, b = whole[c], chunked[c]
        assert ((a == b) | (a.isna() & b.isna())).all(), c


def test_book_feed_walk_matches_per_key():
    """The multi-key walk equals the one-key step called per key on random
    key-clustered bodies (covering snapshots, gaps, buffering races), on
    the rows and on each key's state."""
    import numpy as np

    from wingfoil_spark.operators.market import book_feed_step, book_feed_walk

    rng = np.random.default_rng(31)
    frames = []
    for key in range(25):
        n = int(rng.integers(1, 60))
        seqs = np.cumsum(rng.integers(1, 3, n))  # occasional gaps
        frames.append(pd.DataFrame({
            "user_id": key,
            "ts": np.sort(rng.integers(0, 500, n)) * 100,
            "seq": seqs,
            "kind": np.where(rng.integers(0, 6, n) == 0, "snapshot", "delta"),
            "side": np.where(rng.integers(0, 2, n) == 0, "bid", "ask"),
            "price": rng.integers(90, 110, n).astype(float),
            "qty": rng.integers(0, 9, n).astype(float),
            "bid_price": 100.0, "bid_qty": 1.0,
            "ask_price": 101.0, "ask_qty": 1.0,
        }))
    body = pd.concat(frames, ignore_index=True)
    states, walked = book_feed_walk(("user_id",))({}, body)
    per_key, want_states = [], {}
    for key, g in body.groupby("user_id", sort=False):
        want_states[(key,)], out = book_feed_step(None, g.reset_index(drop=True))
        out.insert(0, "user_id", key)
        per_key.append(out)
    per_key = [o for o in per_key if len(o)]
    ref = pd.concat(per_key, ignore_index=True)
    assert len(walked) == len(ref) > 0
    for c in ref.columns:
        a, b = walked[c], ref[c]
        assert ((a == b) | (a.isna() & b.isna())).all(), c
    assert states == want_states
