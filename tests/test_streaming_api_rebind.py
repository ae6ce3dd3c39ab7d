"""r4 API parity: the stateful pandas operators transparently rebind to
their KeyedStateOp twins when called on a STREAMING frame — previously
they reached the packed batch binding, which carries no state across
micro-batches (silently wrong results), and now raises loudly if hit.
Each test drives the SAME fluent call over spark.read and spark.readStream
and matches outputs (the reference run-mode duality at the API surface,
runtime/run.rs:16-29)."""

import os

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from wingfoil_spark.sources.tables import load_table, ts_us_expr
from wingfoil_spark.stream import Stream

SCHEMA = "user_id long, ts_us long, event_id long, value double"


@pytest.fixture(scope="module")
def src_dir(spark, sf_dir, tmp_path_factory):
    ev = load_table(spark, sf_dir, "events")
    pdf = (
        ev.select("user_id", ts_us_expr(ev).alias("ts_us"), "event_id", "value")
        .where(F.col("user_id") < 10).toPandas()
        .sort_values(["ts_us", "event_id"])
    )
    d = str(tmp_path_factory.mktemp("rebind_src"))
    n = len(pdf)
    for i, (a, b) in enumerate([(0, n // 2), (n // 2, n)]):
        pdf.iloc[a:b].to_parquet(os.path.join(d, f"c{i}.parquet"), index=False)
    return d


def _both(spark, src_dir, build, name):
    """Run build(Stream) against batch and stream bindings of the same
    rows; return (batch_pdf, streamed_pdf)."""
    bdf = spark.read.schema(SCHEMA).parquet(src_dir)
    batch = build(Stream(bdf, ts="ts_us", seq="event_id",
                         keys=("user_id",))).df.toPandas()
    sdf = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = build(Stream(sdf, ts="ts_us", seq="event_id", keys=("user_id",))).df
    assert out.isStreaming
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    return batch, spark.sql(f"SELECT * FROM {name}").toPandas()


def _match(batch, streamed, key, cols):
    a = batch.sort_values(key).reset_index(drop=True)
    b = streamed[list(batch.columns)].sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) > 0
    for c in cols:
        x = a[c].to_numpy(dtype=float)
        y = b[c].to_numpy(dtype=float)
        nan2 = (x != x) & (y != y)
        assert ((x == y) | nan2).all(), c


def test_ewma_alpha_rebind(spark, src_dir):
    b, s = _both(spark, src_dir, lambda s: s.ewma("value", alpha=0.25, out="e"),
                 "rb_ewma_a")
    _match(b, s, ["user_id", "ts_us", "event_id"], ["e"])


def test_ewma_half_life_rebind(spark, src_dir):
    b, s = _both(
        spark, src_dir,
        lambda s: s.ewma("value", half_life_ns=3600_000_000, out="e"),
        "rb_ewma_hl",
    )
    _match(b, s, ["user_id", "ts_us", "event_id"], ["e"])


def test_throttle_exact_rebind(spark, src_dir):
    from wingfoil_spark.operators.stateful import throttle_exact

    b, s = _both(spark, src_dir, lambda s: throttle_exact(s, 1800_000_000),
                 "rb_throttle")
    _match(b, s, ["user_id", "ts_us", "event_id"], ["value"])


def test_drop_small_change_rebind(spark, src_dir):
    from wingfoil_spark.operators.stateful import drop_small_change

    b, s = _both(spark, src_dir, lambda s: drop_small_change(s, "value", 50.0),
                 "rb_dsc")
    _match(b, s, ["user_id", "ts_us", "event_id"], ["value"])


def test_drop_small_change_predicate_rebind(spark, src_dir):
    """r5: the predicate form ((cur, prev_emitted) -> bool) now rebinds
    to a KeyedStateOp step on streams instead of raising (VERDICT r4
    missing #1) — same kept rows as the batch walk across micro-batch
    boundaries (state = last emitted value survives the batch cut)."""
    from wingfoil_spark.operators.stateful import drop_small_change

    b, s = _both(
        spark, src_dir,
        lambda s: drop_small_change(
            s, "value", lambda cur, prev: abs(cur - prev) <= 50.0
        ),
        "rb_dsc_pred",
    )
    _match(b, s, ["user_id", "ts_us", "event_id"], ["value"])
    # and the predicate keeps its loud non-bool contract on streams: the
    # step raises inside the state op, surfacing as a failed query
    import pyspark.errors

    bad = drop_small_change(
        Stream(
            spark.readStream.schema(SCHEMA).parquet(src_dir),
            ts="ts_us", seq="event_id", keys=("user_id",),
        ),
        "value", lambda cur, prev: "not a bool",
    )
    q = (
        bad.df.writeStream.format("memory").queryName("rb_dsc_pred_bad")
        .outputMode("append").trigger(availableNow=True).start()
    )
    with pytest.raises(pyspark.errors.exceptions.base.PySparkException):
        q.awaitTermination(120)


def test_fold_pandas_rebind(spark, src_dir):
    from wingfoil_spark.operators.stateful import fold_pandas

    def build(s):
        return fold_pandas(
            s, lambda acc, r: acc + round(r["value"] * 100), 0, out="acc",
            cols=["value"],
        )

    b, s = _both(spark, src_dir, build, "rb_fold")
    _match(b, s, ["user_id", "ts_us", "event_id"], ["acc"])


def test_tw_profile_rebind(spark, src_dir):
    from wingfoil_spark.operators.stateful import time_weighted_profile

    def build(s):
        s2 = Stream(s.df.select("user_id", "ts_us", "value"),
                    ts="ts_us", seq=None, keys=("user_id",))
        return time_weighted_profile(s2, "value", 6 * 3600_000_000)

    b, s = _both(spark, src_dir, build, "rb_twp")
    _match(b, s, ["user_id", "ts_us"], ["tw_mean", "tw_var", "tw_median"])


def test_delay_with_reset_rebind(spark, src_dir, sf_dir, delay_with_reset_walk):
    """Streaming delay_with_reset binds the watermark-timer twin; compare
    against the same timer walk run per key over the whole history after
    a sentinel chunk drains the pending deliveries."""
    from wingfoil_spark.operators.stateful import delay_with_reset

    DELAY = 1_000_000
    ev = load_table(spark, sf_dir, "events")
    base = (
        ev.select("user_id", ts_us_expr(ev).alias("ts_us"), "event_id",
                  "event_type", "value").where(F.col("user_id") < 10)
        .toPandas().sort_values(["ts_us", "event_id"])
    )
    src = base[base["event_type"] == "click"][
        ["user_id", "ts_us", "event_id", "value"]]
    trg = base[base["event_type"] == "purchase"][
        ["user_id", "ts_us", "event_id", "value"]]
    t_far = int(base["ts_us"].max()) + 2 * DELAY
    sent = pd.DataFrame({"user_id": [0, 0], "ts_us": [t_far, t_far + 1000],
                         "event_id": [-1, -2], "value": [0.0, 0.0]})

    batch = delay_with_reset_walk(src, trg, DELAY, "ts_us", "event_id",
                                  ["user_id"], ["value"])
    batch = batch[batch["ts_us"] < t_far]

    import tempfile, shutil, time as _t
    d = tempfile.mkdtemp(prefix="rb_dwr_")
    try:
        # BOTH sides from ONE chronologically-chunked source (filtered by
        # type): micro-batches then carry time-aligned rows of both sides,
        # the in-order topology the reference mandates (two independent
        # file sources would interleave chunks arbitrarily across time)
        both = base[base["event_type"].isin(["click", "purchase"])]
        sent_t = sent.assign(event_type="click")
        chunks = [both.iloc[: len(both) // 2], both.iloc[len(both) // 2:],
                  sent_t]
        for i, c in enumerate(chunks):
            p = os.path.join(d, f"s{i}.parquet")
            c.to_parquet(p, index=False)
            os.utime(p, (_t.time() + i, _t.time() + i))
        sdf = (
            spark.readStream.schema(
                "user_id long, ts_us long, event_id long, "
                "event_type string, value double")
            .option("maxFilesPerTrigger", 1).parquet(d)
        )
        ss = Stream(
            sdf.where(F.col("event_type") == "click")
            .select("user_id", "ts_us", "event_id", "value"),
            "ts_us", "event_id", ("user_id",),
        )
        st = Stream(
            sdf.where(F.col("event_type") == "purchase")
            .select("user_id", "ts_us", "event_id", "value"),
            "ts_us", "event_id", ("user_id",),
        )
        out = delay_with_reset(ss, DELAY, st, value_cols=["value"]).df
        assert out.isStreaming
        q = (
            out.writeStream.format("memory").queryName("rb_dwr")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(180)
        streamed = spark.sql("SELECT * FROM rb_dwr").toPandas()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    streamed = streamed[streamed["ts_us"] < t_far]
    key = ["user_id", "ts_us", "value"]
    a = batch[key].drop_duplicates().sort_values(key).reset_index(drop=True)
    b = streamed[key].drop_duplicates().sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) > 0
    assert a.equals(b), "delay_with_reset streaming rebind diverged"


def test_packed_binding_refuses_streaming(spark, src_dir):
    """The guard itself: reaching the packed per-key binding with a
    streaming frame raises instead of silently recomputing per batch."""
    from wingfoil_spark.operators.stateful import _apply_per_key_reshape

    sdf = spark.readStream.schema(SCHEMA).parquet(src_dir)
    s = Stream(sdf, ts="ts_us", seq="event_id", keys=("user_id",))
    with pytest.raises(NotImplementedError, match="KeyedStateOp"):
        _apply_per_key_reshape(s, lambda p: p, sdf.schema)
