"""Market-data operators: fixed-point prices, VWAP, sequence-gap detection,
and snapshot/delta order-book maintenance (the flagship custom stateful op).

Reference vocabulary (/root/reference/crates/wingfoil/src/adapters/market.rs):
fixed-point ``Px``/``Qty`` (i128-backed decimals, market.rs:318-388), ``Trade``
(market.rs:579), ``BookSnapshot``/``BookDelta``/``BookUpdate``
(market.rs:603-651), sequence-gap detection (``GapCause``, market.rs:757), and
``MarketBookOps::order_book`` (market.rs:1227-1250) which folds book updates
into an evolving ``OrderBook``.

Spark design:
- ``Px``/``Qty`` → DecimalType — exact arithmetic, no float drift (the
  reference's whole reason for fixed-point).
- trade analytics (VWAP, gaps) → window/groupBy aggregates, JVM-side.
- the order book itself → a :class:`~wingfoil_spark.streaming.stateful.
  KeyedStateOp` step function: per-instrument dict state folded over
  (ts, seq)-ordered updates — sequential within an instrument (state
  demands it, same as the reference's single-threaded node), parallel
  across instruments. Runs identically in batch (applyInPandas) and
  streaming (applyInPandasWithState) — the run-mode duality.

The synthetic tables have no raw market feed, so :func:`trades_from_events`
/ :func:`book_updates_from_events` derive deterministic trade/delta streams
from the ``events`` table (instrument = user_id) — the same trick the
reference's examples use to replay synthetic books.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wingfoil_spark.stream import Stream
from wingfoil_spark.streaming.stateful import (
    KeyedStateOp, WalkFn, lift, one_key, runs,
)

#: fixed-point price/quantity types (reference Px/Qty, market.rs:318-388)
PX = "decimal(18,9)"
QTY = "decimal(18,4)"


def trades_from_events(s: Stream, px_col: str = "value") -> Stream:
    """Deterministic Trade stream derived from events: px = value (exact
    decimal), qty = 1 + event_id % 100, side = sign of the event_id hash.
    Shape of reference ``Trade`` (market.rs:579): (instrument, px, qty,
    side, ts)."""
    df = s.df.select(
        *s.keys,
        F.col(s.ts),
        F.col(s.seq).alias("trade_seq"),
        F.col(px_col).cast(PX).alias("px"),
        (F.lit(1) + F.col(s.seq) % 100).cast(QTY).alias("qty"),
        F.when(F.col(s.seq) % 2 == 0, F.lit("buy")).otherwise(F.lit("sell")).alias("side"),
    )
    return Stream(df, ts=s.ts, seq="trade_seq", keys=s.keys)


def tumbling_vwap(t: Stream, interval_ns: int) -> Stream:
    """Per-instrument volume-weighted average price per tumbling interval.
    One shuffle on (instrument, bucket); decimal-exact accumulation, final
    division in double."""
    bucket = F.call_function("div", F.col(t.ts), F.lit(int(interval_ns)))
    df = (
        t.df.withColumn("__b", bucket)
        .groupBy(*t.keys, "__b")
        .agg(
            F.sum((F.col("px") * F.col("qty")).cast("decimal(38,13)")).alias("__pv"),
            F.sum("qty").alias("volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .select(
            *t.keys,
            ((F.col("__b") + 1) * interval_ns).alias(t.ts),
            (F.col("__pv").cast("double") / F.col("volume").cast("double")).alias("vwap"),
            F.col("volume").cast("double").alias("volume"),
            "n_trades",
        )
    )
    return Stream(df, ts=t.ts, seq=None, keys=t.keys)


def rolling_vwap(t: Stream, n: int, out: str = "vwap") -> Stream:
    """VWAP over the last ``n`` trades per instrument — a window pass, no
    extra shuffle beyond the key partition."""
    w = t.w_rows(-(n - 1), 0)
    pv = F.sum((F.col("px") * F.col("qty")).cast("decimal(38,13)")).over(w)
    vol = F.sum("qty").over(w)
    return t.map(**{out: pv.cast("double") / vol.cast("double")})


def detect_seq_gaps(
    s: Stream, expect_step: int = 1, bucket_width: int = 3600 * 1_000_000
) -> Stream:
    """Sequence-gap detection on a per-key monotone sequence column: emits a
    row per gap with the missing span. Reference: ``GapCause``/gap handling
    in the book pipeline (market.rs:757).

    Keyed streams lag within the key partition (parallel). A keyless stream
    would need a single-partition global window — instead it uses the
    two-level bucketed lag (:func:`wingfoil_spark.operators.scale.
    global_lag`): parallel within time buckets, carry exchanged via the tiny
    bucket-summary table."""
    if s.keys:
        withprev = s.df.withColumn("__prev", F.lag(s.seq).over(s._w_plain()))
    else:
        from wingfoil_spark.operators.scale import global_lag

        withprev = global_lag(s, s.seq, "__prev", bucket_width).df
    df = (
        withprev
        .where(F.col("__prev").isNotNull() & (F.col(s.seq) - F.col("__prev") > expect_step))
        .select(
            *s.keys,
            F.col(s.ts),
            F.col("__prev").alias("gap_from_seq"),
            F.col(s.seq).alias("gap_to_seq"),
            (F.col(s.seq) - F.col("__prev") - expect_step).alias("n_missing"),
        )
    )
    return Stream(df, ts=s.ts, seq=None, keys=s.keys)


# ------------------------------------------------------------- order book


def book_updates_from_events(s: Stream, px_col: str = "value") -> Stream:
    """Deterministic BookUpdate stream from events. Every 50th event (per
    the event_id) is a snapshot (clears the book); others are deltas:
    side from event_id parity, integer price level near the value, qty
    delta in [-2, 7] (negative deltas remove liquidity; a level at qty ≤ 0
    disappears — reference BookDelta semantics, market.rs:603-651)."""
    df = s.df.select(
        *s.keys,
        F.col(s.ts),
        F.col(s.seq).alias("upd_seq"),
        F.when(F.col(s.seq) % 50 == 0, F.lit("snapshot")).otherwise(F.lit("delta")).alias("kind"),
        F.when(F.col(s.seq) % 2 == 0, F.lit("bid")).otherwise(F.lit("ask")).alias("side"),
        F.round(F.col(px_col)).cast("long").alias("level"),
        (F.col(s.seq) % 10 - 2).cast("long").alias("qty_delta"),
    )
    return Stream(df, ts=s.ts, seq="upd_seq", keys=s.keys)


#: order-book output: top-of-book after each update
BOOK_TOP_FIELDS = [
    T.StructField("ts", T.LongType()),
    T.StructField("upd_seq", T.LongType()),
    T.StructField("best_bid", T.LongType()),
    T.StructField("bid_qty", T.LongType()),
    T.StructField("best_ask", T.LongType()),
    T.StructField("ask_qty", T.LongType()),
    T.StructField("n_bid_levels", T.LongType()),
    T.StructField("n_ask_levels", T.LongType()),
]


def order_book_step(state, pdf: pd.DataFrame):
    """The order-book fold, as a pure KeyedStateOp step (one source of
    semantics for batch AND streaming — run-mode duality).

    state = (bids: dict[level, qty], asks: dict[level, qty]). Updates apply
    in row order (caller pre-sorts by (ts, seq)): ``snapshot`` clears both
    sides (reference BookSnapshot replaces the book), ``delta`` adds
    qty_delta at a level, dropping the level at qty ≤ 0. After each update
    the top-of-book is emitted (reference order_book emits Arc<OrderBook>
    per tick; we emit the observable top — market.rs:810,1227-1250).

    Hot-loop shape (the reference replays ~0.9M msg/s single-core, the bar
    for this op): the fold dispatches to a compiled C kernel
    (operators/_ckernels.py book_fold — epoch-cleared level arrays, O(1)
    snapshot, incremental best tracking; ~10M msg/s single-core) whenever a
    compiler is available and the price-level span is bounded; otherwise
    the Python walk below runs — columns decode to python lists once,
    string comparisons collapse to two vectorized bool arrays, and the
    best bid/ask are tracked incrementally. The two paths are
    integer-exact identical (differentially tested)."""
    bids, asks = state if state is not None else ({}, {})
    n = len(pdf)
    is_snap_arr = pdf["kind"].to_numpy() == "snapshot"
    is_bid_arr = pdf["side"].to_numpy() == "bid"
    lvl_arr = pdf["level"].to_numpy()
    qd_arr = pdf["qty_delta"].to_numpy()

    if n:
        from wingfoil_spark.operators import _ckernels

        res = _ckernels.book_fold(is_snap_arr, is_bid_arr, lvl_arr, qd_arr,
                                  bids, asks)
        if res is not None:
            o_bb, o_bq, o_ba, o_aq, o_nb, o_na, bids, asks = res
            NONE = _ckernels.BOOK_NONE

            def nullable(a):
                col = pd.array(a, dtype="Int64")
                col[a == NONE] = pd.NA
                return col

            out = pd.DataFrame({
                "ts": pdf["ts"].to_numpy(),
                "upd_seq": pdf["upd_seq"].to_numpy(),
                "best_bid": nullable(o_bb),
                "bid_qty": nullable(o_bq),
                "best_ask": nullable(o_ba),
                "ask_qty": nullable(o_aq),
                "n_bid_levels": o_nb,
                "n_ask_levels": o_na,
            })
            return (bids, asks), out

    is_snap = is_snap_arr.tolist()
    is_bid = is_bid_arr.tolist()
    lvl_l = lvl_arr.tolist()   # python scalars: fast dict keys
    qd_l = qd_arr.tolist()
    o_bb = [None] * n
    o_bq = [None] * n
    o_ba = [None] * n
    o_aq = [None] * n
    o_nb = [0] * n
    o_na = [0] * n
    bb = max(bids) if bids else None
    ba = min(asks) if asks else None
    for i in range(n):
        lvl = lvl_l[i]
        qd = qd_l[i]
        if is_snap[i]:
            bids = {}
            asks = {}
            bb = ba = None
            if qd > 0:
                if is_bid[i]:
                    bids[lvl] = qd
                    bb = lvl
                else:
                    asks[lvl] = qd
                    ba = lvl
        elif is_bid[i]:
            q = bids.get(lvl, 0) + qd
            if q <= 0:
                if bids.pop(lvl, None) is not None and lvl == bb:
                    bb = max(bids) if bids else None
            else:
                bids[lvl] = q
                if bb is None or lvl > bb:
                    bb = lvl
        else:
            q = asks.get(lvl, 0) + qd
            if q <= 0:
                if asks.pop(lvl, None) is not None and lvl == ba:
                    ba = min(asks) if asks else None
            else:
                asks[lvl] = q
                if ba is None or lvl < ba:
                    ba = lvl
        if bb is not None:
            o_bb[i] = bb
            o_bq[i] = bids[bb]
        if ba is not None:
            o_ba[i] = ba
            o_aq[i] = asks[ba]
        o_nb[i] = len(bids)
        o_na[i] = len(asks)
    out = pd.DataFrame({
        "ts": pdf["ts"].to_numpy(),
        "upd_seq": pdf["upd_seq"].to_numpy(),
        "best_bid": o_bb,
        "bid_qty": o_bq,
        "best_ask": o_ba,
        "ask_qty": o_aq,
        "n_bid_levels": o_nb,
        "n_ask_levels": o_na,
    })
    return (bids, asks), out


#: feed-handler book output: one row per ticked instant
BOOK_FEED_FIELDS = [
    T.StructField("ts", T.LongType()),
    T.StructField("status", T.StringType()),
    T.StructField("best_bid", T.DoubleType()),
    T.StructField("bid_qty", T.DoubleType()),
    T.StructField("best_ask", T.DoubleType()),
    T.StructField("ask_qty", T.DoubleType()),
    T.StructField("n_bid_levels", T.LongType()),
    T.StructField("n_ask_levels", T.LongType()),
    T.StructField("last_seq", T.LongType()),
]


def book_feed_step(state, pdf: pd.DataFrame):
    """The FULL feed-handler order-book fold — the reference's real-world
    contract (market.rs BookStatus; pinned by tests/market_adapter.rs):

    - one tick per same-instant BURST, every update applied in seq order
      (market_adapter.rs:94-139 — latest-wins collapsing would drop levels);
    - a sequence GAP (delta seq > last+1) ticks ONCE with an unquotable
      Gapped book; further deltas are refused quietly until a fresh
      snapshot recovers it (market_adapter.rs:140-179);
    - deltas arriving BEFORE the first snapshot buffer quietly; the
      snapshot drops buffered seq <= its own and replays the rest on top,
      ticking once (market_adapter.rs:184-219 — the universal REST+WS race).

    Rows: (ts, seq, kind, side, price, qty [, bid_price, bid_qty,
    ask_price, ask_qty for singleton snapshots; bid_prices, bid_qtys,
    ask_prices, ask_qtys ARRAY columns for multi-level snapshots — the
    reference BookSnapshot carries Vec<Level> per side, market.rs:603]).
    Level semantics are the reference's LevelChange (market.rs:501-519):
    qty is the new ABSOLUTE resting quantity, zero removes the level.
    Several delta rows sharing ONE seq are a single message's change batch
    (reference BookDelta.changes applies in order under one sequencing) —
    accepted as a continuation, not a gap. state = (status, last_seq,
    bids, asks, buffer). The simpler synthetic fold
    (:func:`order_book_step`) stays as the graded-query op; this is the
    faithful feed handler — it is what a decoded FIX W/X stream feeds
    (sources/fix.py:book_updates_from_fix).
    """
    arr, n = _feed_arrays(pdf)
    state, out_rows = _feed_walk(arr, 0, n, state, ())
    out = pd.DataFrame(out_rows, columns=[f.name for f in BOOK_FEED_FIELDS])
    return state, out


def _feed_arrays(pdf: pd.DataFrame):
    cols = ["ts", "seq", "kind", "side", "price", "qty",
            "bid_price", "bid_qty", "ask_price", "ask_qty",
            "bid_prices", "bid_qtys", "ask_prices", "ask_qtys"]
    n = len(pdf)
    arr = {c: (pdf[c].to_numpy() if c in pdf.columns else [None] * n)
           for c in cols}
    return arr, n


def _feed_walk(arr, i0: int, i1: int, state, prefix: tuple):
    """The feed-handler walk over one key's rows [i0, i1) of pre-extracted
    column arrays — ONE implementation shared by the one-key step and the
    multi-key walk (output rows are tuples, each prefixed by ``prefix``).
    Returns (state', rows)."""
    status, last_seq, bids, asks, buffer = state if state is not None else (
        "await", None, {}, {}, []
    )
    out_rows = []

    def apply_delta(side, price, qty):
        book = bids if side == "bid" else asks
        if qty <= 0:
            book.pop(price, None)
        else:
            book[price] = qty

    def emit(ts):
        bb = max(bids) if (status == "live" and bids) else None
        ba = min(asks) if (status == "live" and asks) else None
        out_rows.append((
            *prefix, int(ts), status,
            bb, bids.get(bb) if bb is not None else None,
            ba, asks.get(ba) if ba is not None else None,
            len(bids) if status == "live" else 0,
            len(asks) if status == "live" else 0,
            last_seq,
        ))

    i = i0
    while i < i1:
        ts = arr["ts"][i]
        ticked = False
        while i < i1 and arr["ts"][i] == ts:
            kind, seq = arr["kind"][i], int(arr["seq"][i])
            if kind == "snapshot":
                bids.clear()
                asks.clear()
                bps, aps = arr["bid_prices"][i], arr["ask_prices"][i]
                if bps is not None or aps is not None:
                    # multi-level image (BookSnapshot Vec<Level> per side);
                    # list() rather than `or []`: numpy arrays have no
                    # scalar truth value
                    def _lv(a):
                        return [] if a is None else list(a)

                    for p, q in zip(_lv(bps), _lv(arr["bid_qtys"][i])):
                        if q and q > 0:
                            bids[float(p)] = float(q)
                    for p, q in zip(_lv(aps), _lv(arr["ask_qtys"][i])):
                        if q and q > 0:
                            asks[float(p)] = float(q)
                else:
                    if arr["bid_qty"][i] and arr["bid_qty"][i] > 0:
                        bids[float(arr["bid_price"][i])] = float(arr["bid_qty"][i])
                    if arr["ask_qty"][i] and arr["ask_qty"][i] > 0:
                        asks[float(arr["ask_price"][i])] = float(arr["ask_qty"][i])
                status, last_seq = "live", seq
                # replay buffered deltas newer than the snapshot — in
                # ARRIVAL order (rows come (ts, seq)-sorted, so this is seq
                # order; a tuple sort would scramble same-seq change
                # batches by side/price)
                for bseq, bside, bprice, bqty in buffer:
                    if bseq > seq:
                        apply_delta(bside, bprice, bqty)
                        last_seq = bseq
                buffer.clear()
                ticked = True
            elif status == "await":
                buffer.append((seq, arr["side"][i], float(arr["price"][i]),
                               float(arr["qty"][i])))
            elif status == "gapped":
                pass  # refused until a snapshot recovers the book
            else:  # live delta
                if seq == last_seq + 1 or seq == last_seq:
                    # seq == last_seq: further changes of the SAME message
                    # batch (BookDelta.changes under one sequencing)
                    apply_delta(arr["side"][i], float(arr["price"][i]),
                                float(arr["qty"][i]))
                    last_seq = seq
                    ticked = True
                else:
                    status = "gapped"
                    bids.clear()
                    asks.clear()
                    ticked = True
            i += 1
        if ticked:
            emit(ts)
    return (status, last_seq, bids, asks, buffer), out_rows


def order_book_multi(pdf: pd.DataFrame, keys: tuple[str, ...]):
    """Whole-body fold across ALL key runs of a sorted, key-clustered
    batch in ONE C call (the multi-key ``new_grp`` reset flags of
    _ckernels.book_fold, set at the key-run starts). Per-run pandas frame
    construction cost ~0.7 ms/key — 60× the fold itself for small keys —
    so this builds the output frame ONCE per Arrow batch. Returns None
    without a compiler or past the level-span budget. Every run starts
    from a fresh book and only the last run's book comes back from the
    kernel, so this is a batch walk (:func:`order_book`), not a stream
    one."""
    from wingfoil_spark.operators import _ckernels
    from wingfoil_spark.streaming.stateful import run_starts

    n = len(pdf)
    if n == 0:
        return None
    is_snap = pdf["kind"].to_numpy() == "snapshot"
    is_bid = pdf["side"].to_numpy() == "bid"
    lvl = pdf["level"].to_numpy()
    qd = pdf["qty_delta"].to_numpy()
    new_grp = np.zeros(n, dtype=np.int8)
    new_grp[run_starts(pdf, keys)] = 1
    res = _ckernels.book_fold(is_snap, is_bid, lvl, qd, {}, {},
                              new_grp=new_grp)
    if res is None:
        return None
    o_bb, o_bq, o_ba, o_aq, o_nb, o_na = res[:6]
    NONE = _ckernels.BOOK_NONE

    def nullable(a):
        col = pd.array(a, dtype="Int64")
        col[a == NONE] = pd.NA
        return col

    out = pd.DataFrame({
        **{k: pdf[k].to_numpy() for k in keys},
        "ts": pdf["ts"].to_numpy(),
        "upd_seq": pdf["upd_seq"].to_numpy(),
        "best_bid": nullable(o_bb),
        "bid_qty": nullable(o_bq),
        "best_ask": nullable(o_ba),
        "ask_qty": nullable(o_aq),
        "n_bid_levels": o_nb,
        "n_ask_levels": o_na,
    })
    return out


def order_book_op(key_fields: list[T.StructField]) -> KeyedStateOp:
    """The order-book operator, bindable to batch (``run_batch``) or
    streaming (``run_stream``) — ONE step function, two run modes.
    :func:`order_book` binds the whole-body C fold
    (:func:`order_book_multi`, differentially tested against this step)
    as its batch walk instead."""
    keys = tuple(f.name for f in key_fields)

    def step_with_keys(state, pdf):
        state, out = order_book_step(state, pdf)
        for k in keys:
            out[k] = pdf[k].iloc[0] if len(pdf) else None
        return state, out

    return KeyedStateOp(
        step_with_keys,
        out_schema=T.StructType(list(key_fields) + BOOK_TOP_FIELDS),
        init_state=None,
        ts="ts",
        seq="upd_seq",
        keys=keys,
    )


def book_feed_walk(keys: tuple[str, ...]) -> WalkFn:
    """The feed-handler book (:func:`book_feed_step`) as a native
    multi-key walk: one :func:`_feed_walk` per key run of the body,
    carrying each key's (status, last_seq, bids, asks, buffer) state, and
    one output frame (key columns first)."""
    names = [*keys, *[f.name for f in BOOK_FEED_FIELDS]]

    def walk(states: dict, body: pd.DataFrame):
        arr, _ = _feed_arrays(body)
        rows = []
        for k, a, b in runs(body, keys):
            states[k], r = _feed_walk(arr, a, b, states.get(k), k)
            rows += r
        return states, pd.DataFrame(rows, columns=names)

    return walk


def book_feed_op(key_fields: list[T.StructField],
                 order_col: str = "seq") -> KeyedStateOp:
    """The FULL feed-handler book (:func:`book_feed_walk` — status
    machine, gap refusal, pre-snapshot buffering) as a two-run-mode
    KeyedStateOp. ``order_col`` is the intra-instant SORT tiebreaker (the
    walk always reads the ``seq`` column for gap logic); pass a composite
    like the FIX bridge's ``__ord`` when several rows share one (ts, seq)
    — a message's change batch — and wire order must survive the
    partition sort."""
    keys = tuple(f.name for f in key_fields)
    return KeyedStateOp(
        one_key(book_feed_walk(keys), keys, ["ts", order_col]),
        out_schema=T.StructType(list(key_fields) + BOOK_FEED_FIELDS),
        init_state=None,
        ts="ts",
        seq=order_col,
        keys=keys,
    )


def book_feed(updates: Stream, order_col: str | None = None) -> Stream:
    """Maintain per-instrument feed-handler books (market_adapter.rs:94-219
    semantics) from a feed-update stream with columns (keys..., ts, seq,
    kind, side, price, qty, bid_price, bid_qty, ask_price, ask_qty
    [, bid_prices/bid_qtys/ask_prices/ask_qtys arrays for multi-level
    snapshots]); emits one row per ticked instant. ``order_col``: see
    :func:`book_feed_op`."""
    keys = updates.keys
    op = book_feed_op([updates.df.schema[k] for k in keys],
                      order_col=order_col or "seq")
    renamed = (
        updates.df.withColumnRenamed(updates.ts, "ts")
        if updates.ts != "ts" else updates.df
    )
    return Stream(op.run_batch(renamed), ts="ts", seq=None, keys=keys)


def order_book(updates: Stream) -> Stream:
    """Maintain per-instrument order books from a BookUpdate stream,
    emitting top-of-book after every update. Batch binding: the walk is
    the whole-body C fold (:func:`order_book_multi`), or
    :func:`order_book_op`'s step lifted per key run when that returns
    None (no compiler); streams bind ``order_book_op(...).run_stream``
    (tests/test_streaming_duality.py)."""
    from wingfoil_spark.operators.stateful import _apply_per_key_reshape

    keys = updates.keys
    op = order_book_op([updates.df.schema[k] for k in keys])
    renamed = updates.df.withColumnRenamed(updates.ts, "ts") if updates.ts != "ts" else updates.df
    lifted = lift(op.step, keys, None)

    def walk(states: dict, body: pd.DataFrame):
        out = order_book_multi(body, keys)
        return (states, out) if out is not None else lifted(states, body)

    out_df = _apply_per_key_reshape(
        Stream(renamed, ts="ts", seq="upd_seq", keys=keys), walk, op.out_schema)
    return Stream(out_df, ts="ts", seq="upd_seq", keys=keys)
