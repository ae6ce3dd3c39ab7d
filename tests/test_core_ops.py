"""Golden replay tests for core combinators.

Pattern 1 of the reference's test strategy (SURVEY §5): deterministic
replay over synthetic ticks, asserting exact values AND tick-times —
modeled on /root/reference/crates/wingfoil/tests/catalog.rs.
"""

import pyspark.sql.functions as F
import pytest

from wingfoil_spark import Stream, replay_rows, ticker


def rows(stream, *cols):
    return [tuple(r[c] for c in cols) for r in stream.collect_ordered()]


def make(spark, data, schema="ts long, v double", **kw):
    return replay_rows(spark, data, schema, **kw)


def test_ticker_count(spark):
    s = ticker(spark, period_ns=10, n=5).count(out="n")
    # first activation AT start (ops.rs:77-81; statistics_rolling.rs golden)
    assert rows(s, "ts", "n") == [(0, 1), (10, 2), (20, 3), (30, 4), (40, 5)]


def test_map_filter(spark):
    s = make(spark, [(1, 1.0), (2, 2.0), (3, 3.0)])
    s = s.map(v2=F.col("v") * 2).filter_value(F.col("v2") > 2)
    assert rows(s, "ts", "v2") == [(2, 4.0), (3, 6.0)]


def test_fold_scan(spark):
    s = make(spark, [(1, 1.0), (2, 2.0), (3, 3.0)]).fold("v", "sum", out="acc")
    assert rows(s, "ts", "acc") == [(1, 1.0), (2, 3.0), (3, 6.0)]


def test_difference_quiet_first(spark):
    # reference: difference is quiet on the first tick (ops.rs:263-303)
    s = make(spark, [(1, 5.0), (2, 7.0), (3, 4.0)]).difference("v", out="d")
    assert rows(s, "ts", "d") == [(2, 2.0), (3, -3.0)]


def test_distinct_until_changed(spark):
    s = make(spark, [(1, 1.0), (2, 1.0), (3, 2.0), (4, 2.0), (5, 1.0)])
    assert rows(s.distinct_until_changed("v"), "ts", "v") == [
        (1, 1.0), (3, 2.0), (5, 1.0)]


def test_limit(spark):
    s = make(spark, [(1, 1.0), (2, 2.0), (3, 3.0)]).limit_ticks(2)
    assert rows(s, "ts", "v") == [(1, 1.0), (2, 2.0)]


def test_accumulate(spark):
    s = make(spark, [(1, 1.0), (2, 2.0)]).accumulate("v", out="vals")
    assert rows(s, "ts", "vals") == [(1, "1.0"), (2, "1.0,2.0")]


def test_delay_with_timequeue_dedup(spark):
    # identical (value, time) scheduled twice collapses to one event
    # (reference TimeQueue dedup, runtime/time_queue.rs:136)
    s = make(spark, [(1, 1.0), (1, 1.0), (2, 2.0)]).delay(10)
    assert rows(s, "ts", "v") == [(11, 1.0), (12, 2.0)]


def test_throttle_bucket(spark):
    s = make(spark, [(1, 1.0), (5, 2.0), (11, 3.0), (12, 4.0), (25, 5.0)])
    assert rows(s.throttle(10), "ts", "v") == [(1, 1.0), (11, 3.0), (25, 5.0)]


def test_merge_tiebreak_earliest_stream_wins(spark):
    # reference tests/merge_tiebreak.rs: same-instant tie → earliest-supplied
    a = make(spark, [(1, 1.0), (3, 3.0)])
    b = make(spark, [(1, 10.0), (2, 20.0), (3, 30.0)])
    m = a.merge(b)
    assert rows(m, "ts", "v") == [(1, 1.0), (2, 20.0), (3, 3.0)]


def test_combine_latest(spark):
    # reference `join` (combine-latest): ticks when either ticks
    a = make(spark, [(1, 1.0), (4, 4.0)], "ts long, a double")
    b = make(spark, [(2, 20.0), (4, 40.0)], "ts long, b double")
    j = a.combine_latest(b)
    assert rows(j, "ts", "a", "b") == [
        (1, 1.0, None),       # b not yet ticked
        (2, 1.0, 20.0),
        (4, 4.0, 40.0),       # same-instant burst → ONE emission, both new
    ]


def test_join_passive_only_left_emits(spark):
    a = make(spark, [(1, 1.0), (3, 3.0)], "ts long, a double")
    b = make(spark, [(2, 20.0), (4, 40.0)], "ts long, b double")
    j = a.join_passive(b)
    assert rows(j, "ts", "a", "b") == [(1, 1.0, None), (3, 3.0, 20.0)]


def test_sample(spark):
    src = make(spark, [(1, 1.0), (5, 5.0)], "ts long, v double")
    trig = make(spark, [(2, 0), (4, 0), (6, 0)], "ts long, tick int")
    out = src.sample(trig, cols=["v"])
    assert rows(out, "ts", "v") == [(2, 1.0), (4, 1.0), (6, 5.0)]


def test_filter_latch_resamples_on_condition_tick(spark):
    # reference `filter` (ops.rs:2671-2715): condition ticks re-emit held value
    src = make(spark, [(1, 1.0), (4, 4.0)], "ts long, v double")
    cond = make(spark, [(2, True), (3, True), (5, False)], "ts long, ok boolean")
    out = src.filter_latch(cond, "ok")
    assert rows(out, "ts", "v") == [(2, 1.0), (3, 1.0), (4, 4.0)]


def test_tumbling_window(spark):
    s = make(spark, [(1, 1.0), (5, 2.0), (11, 3.0), (19, 4.0), (21, 5.0)])
    t = s.tumbling(10, {"total": F.sum("v"), "cnt": F.count("v")})
    assert rows(t, "ts", "total", "cnt") == [
        (10, 3.0, 2), (20, 7.0, 2), (30, 5.0, 1)]


def test_buffer_count_window(spark):
    s = make(spark, [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0), (5, 5.0)])
    b = s.buffer(2, {"total": F.sum("v")})
    assert rows(b, "ts", "total") == [(2, 3.0), (4, 7.0), (5, 5.0)]


def test_keyed_ops_partition_independently(spark):
    s = make(
        spark,
        [(1, "a", 1.0), (2, "b", 10.0), (3, "a", 2.0), (4, "b", 20.0)],
        "ts long, k string, v double",
        keys=("k",),
    )
    out = s.fold("v", "sum", out="acc")
    assert rows(out, "k", "ts", "acc") == [
        ("a", 1, 1.0), ("a", 3, 3.0), ("b", 2, 10.0), ("b", 4, 30.0)]


def test_demux_explode(spark):
    s = replay_rows(
        spark,
        [(1, ["x", "y"]), (2, ["x"])],
        "ts long, items array<string>",
    )
    d = s.demux_it("items", route_col="item").count(out="n")
    assert sorted(rows(d, "item", "ts", "n")) == [
        ("x", 1, 1), ("x", 2, 2), ("y", 1, 1)]


def test_join3_combine_latest(spark):
    a = make(spark, [(1, 1.0)], "ts long, a double")
    b = make(spark, [(2, 20.0)], "ts long, b double")
    c = make(spark, [(3, 300.0), (4, 400.0)], "ts long, c double")
    j = a.join3(b, c)
    assert rows(j, "ts", "a", "b", "c") == [
        (1, 1.0, None, None),
        (2, 1.0, 20.0, None),
        (3, 1.0, 20.0, 300.0),
        (4, 1.0, 20.0, 400.0),
    ]


def test_gather_burst_atomicity(spark):
    # same-instant values delivered together, never coalesced (burst.rs:16;
    # the channel's historical contract pins the same shape —
    # channel.rs:80-110 same-time values ride ONE atomic burst, and
    # fluent_primitives.rs:25-52 replay_results groups same-instant rows)
    a = make(spark, [(1, 1.0), (2, 2.0)], "ts long, value double")
    b = make(spark, [(2, 20.0)], "ts long, value double")
    g = a.gather(b)
    assert rows(g, "ts", "burst") == [(1, [1.0]), (2, [2.0, 20.0])]


def test_map_filter_one_pass(spark):
    s = make(spark, [(1, 1.0), (2, 2.0)]).map_filter(F.col("v2") > 2, v2=F.col("v") * 2)
    assert rows(s, "ts", "v2") == [(2, 4.0)]


def test_map_n_and_fan(spark):
    s = make(spark, [(1, 1.0)])
    out = s.map_n(3, lambda x: x.map(v=F.col("v") * 2))
    assert rows(out, "ts", "v") == [(1, 8.0)]
    # fan MERGES its branches (repetition.rs:31-49: fan == hand-written
    # merges): one emission per instant, earliest branch wins
    fanned = s.fan(2, lambda x, i: x.map(v=F.col("v") + i))
    assert sorted(rows(fanned, "ts", "v")) == [(1, 1.0)]


def test_split_struct(spark):
    s = replay_rows(
        spark, [(1, (1.0, "x"))], "ts long, pair struct<a double, b string>"
    )
    left, right = s.split("pair")
    assert rows(left, "ts", "a") == [(1, 1.0)]
    assert rows(right, "ts", "b") == [(1, "x")]


def test_collapse_accumulate(spark):
    s = replay_rows(spark, [(1, ["a", "b"]), (2, ["c"])], "ts long, items array<string>")
    out = s.collapse_accumulate("items", out="seen")
    assert rows(out, "ts", "seen") == [(1, "a"), (1, "a,b"), (2, "a,b,c")]


def test_last_values_final_slot(spark):
    s = make(spark, [(1, 1.0), (5, 5.0), (3, 3.0)])
    assert [tuple(r) for r in s.last_values().select("ts", "v").collect()] == [(5, 5.0)]


def test_fold_pandas_arbitrary_closure(spark):
    from wingfoil_spark.operators.stateful import fold_pandas

    s = make(spark, [(1, 2.0), (2, 3.0), (3, 4.0)])
    # non-SQL fold: running product via closure
    out = fold_pandas(s, lambda acc, r: acc * r["v"], 1.0, out="prod")
    assert rows(out, "ts", "prod") == [(1, 2.0), (2, 6.0), (3, 24.0)]


@pytest.mark.parametrize("ddl, key, other", [("bigint", None, 5),
                                             ("double", float("nan"), 5.0)])
def test_fold_pandas_null_and_nan_key_spans_arrow_batches(spark, ddl, key, other):
    """A null or NaN key whose rows span Arrow batches is one key, as in
    the streamed binding: its running sum never restarts. One shuffle
    partition and 4-row Arrow batches put both keys' 10 rows over three
    batches each."""
    from wingfoil_spark.operators.stateful import fold_pandas

    confs = {"spark.sql.execution.arrow.maxRecordsPerBatch": "4",
             "spark.sql.shuffle.partitions": "1"}
    before = {c: spark.conf.get(c) for c in confs}
    try:
        for c, v in confs.items():
            spark.conf.set(c, v)
        data = [(k, t, 1.0) for k in (key, other) for t in range(10)]
        s = make(spark, data, f"k {ddl}, ts long, v double", keys=("k",))
        out = fold_pandas(s, lambda acc, r: acc + r["v"], 0.0, out="n")
        got = {}
        for r in out.df.orderBy("ts").collect():
            got.setdefault(r.k == other, []).append(r.n)
    finally:
        for c, v in before.items():
            spark.conf.set(c, v)
    assert got == {True: [float(i) for i in range(1, 11)],
                   False: [float(i) for i in range(1, 11)]}


def test_delay_with_reset_snaps_and_drops(spark):
    from wingfoil_spark.operators.stateful import delay_with_reset

    src = make(spark, [(10, 1.0), (30, 3.0)], "ts long, v double")
    trig = make(spark, [(35, 0)], "ts long, tick int")
    out = delay_with_reset(src, 20, trig, value_cols=["v"])
    # v=1 @10 fires normally @30; v=3 @30 is pending until 50, but the
    # trigger @35 drops it and snaps current value 3.0 to ts=35
    assert rows(out, "ts", "v") == [(30, 1.0), (35, 3.0)]


def test_delay_with_reset_no_trigger_passthrough(spark):
    from wingfoil_spark.operators.stateful import delay_with_reset

    src = make(spark, [(10, 1.0)], "ts long, v double")
    trig = make(spark, [], "ts long, tick int")
    out = delay_with_reset(src, 5, trig, value_cols=["v"])
    assert rows(out, "ts", "v") == [(15, 1.0)]


def test_time_buckets_accept_a_quoted_name_ts_column(spark):
    """A caller's ts column is resolved as a column, never spliced into
    SQL text: a name that is not a bare SQL identifier (``event-ts``)
    must bucket like ``ts`` in ts_us_expr, the Stream time buckets and
    the market/scale bucketed operators."""
    from wingfoil_spark.operators import market, scale
    from wingfoil_spark.sources.tables import ts_us_expr

    data = [(1, 1.0), (5, 2.0), (11, 3.0), (19, 4.0), (21, 5.0)]
    s = make(spark, data, "`event-ts` long, v double", ts="event-ts")
    assert [r[0] for r in s.df.select(ts_us_expr(s.df, "event-ts")).collect()] \
        == [0, 0, 0, 0, 0]
    big = make(spark, [(1_500, 1.0), (2_999, 2.0)], "`event-ts` long, v double",
               ts="event-ts")
    assert [r[0] for r in big.df.select(ts_us_expr(big.df, "event-ts"))
            .orderBy("event-ts").collect()] == [1, 2]
    assert rows(s.throttle(10), "event-ts", "v") == [
        (1, 1.0), (11, 3.0), (21, 5.0)]
    t = s.tumbling(10, {"total": F.sum("v")})
    assert rows(t, "event-ts", "total") == [(10, 3.0), (20, 7.0), (30, 5.0)]
    g = scale.global_prefix_sum(s, "v", "cum", bucket_width=10)
    assert [r["cum"] for r in g.df.orderBy("event-ts").collect()] == [
        1.0, 3.0, 6.0, 10.0, 15.0]
    trades = market.trades_from_events(
        make(spark, [(1, 10.0, 0), (5, 20.0, 1), (11, 30.0, 2)],
             "`event-ts` long, v double, seq long", ts="event-ts", seq="seq"),
        px_col="v",
    )
    vw = market.tumbling_vwap(trades, 10).df.orderBy("event-ts").collect()
    assert [r["event-ts"] for r in vw] == [10, 20]
