"""Differential test: the SAME stateful operator produces byte-identical
results under historical (batch) and realtime (Structured Streaming)
execution — the reference's run-mode duality (RunMode::HistoricalFrom vs
RealTime, runtime/run.rs:16-29), its test pattern 2 (SURVEY §5: differential
parity across engines/tiers)."""

import os
import shutil
import tempfile
import time

import pyspark.sql.functions as F
import pytest

from wingfoil_spark.sources.tables import load_table, ts_us_expr
from wingfoil_spark.streaming.stateful import KeyedStateOp, ewma_step

OUT_SCHEMA = "user_id long, ts_us long, event_id long, value double, ewma double"


def _op():
    return KeyedStateOp(
        step=ewma_step("value", 0.25, "ewma", ["user_id", "ts_us", "event_id", "value"]),
        out_schema=OUT_SCHEMA,
        init_state=(False, 0.0),
        ts="ts_us",
        seq="event_id",
        keys=("user_id",),
    )


@pytest.fixture(scope="module")
def events_df(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "user_id",
            ts_us_expr(ev).alias("ts_us"),
            "event_id",
            "value",
        )
        .where(F.col("user_id") < 10)
    )


def test_batch_vs_stream_identical(spark, events_df, tmp_path):
    batch = _op().run_batch(events_df).toPandas()

    # feed the same rows as 4 time-ordered micro-batches via the file source
    src_dir = tempfile.mkdtemp(prefix="wf_stream_src_")
    try:
        pdf = events_df.toPandas().sort_values(["ts_us", "event_id"])
        n = len(pdf)
        bounds = [0, n // 4, n // 2, 3 * n // 4, n]
        for i in range(4):
            chunk = pdf.iloc[bounds[i]:bounds[i + 1]]
            path = os.path.join(src_dir, f"chunk-{i:03d}.parquet")
            chunk.to_parquet(path, index=False)
            os.utime(path, (time.time() + i, time.time() + i))

        stream_df = (
            spark.readStream.schema("user_id long, ts_us long, event_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        out = _op().run_stream(stream_df)
        q = (
            out.writeStream.format("memory")
            .queryName("duality_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        streamed = spark.sql("SELECT * FROM duality_test").toPandas()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)

    key = ["user_id", "ts_us", "event_id"]
    b = batch.sort_values(key).reset_index(drop=True)
    s = streamed.sort_values(key).reset_index(drop=True)
    assert len(b) == len(s) > 0
    assert (b["ewma"].to_numpy() == s["ewma"].to_numpy()).all(), (
        "batch and streaming EWMA diverged"
    )


def _run_stream_chunks(spark, op, pdf, schema_str, order_cols, n_chunks=3, name="twin"):
    """Feed pdf as time-ordered micro-batches (split at GLOBAL ts boundaries
    so no instant straddles a batch) through op.run_stream."""
    src_dir = tempfile.mkdtemp(prefix=f"wf_{name}_src_")
    try:
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        ts_col = order_cols[0]
        uniq = sorted(pdf[ts_col].unique())
        cuts = [uniq[len(uniq) * i // n_chunks] for i in range(1, n_chunks)]
        bounds = [0] + [pdf[ts_col].searchsorted(c, side="left") for c in cuts] + [len(pdf)]
        for i in range(n_chunks):
            path = os.path.join(src_dir, f"chunk-{i:03d}.parquet")
            pdf.iloc[bounds[i]:bounds[i + 1]].to_parquet(path, index=False)
            os.utime(path, (time.time() + i, time.time() + i))
        stream_df = (
            spark.readStream.schema(schema_str)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = (
            op.run_stream(stream_df)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.sql(f"SELECT * FROM {name}").toPandas()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)


def _typed(events_df, etype, val_name):
    from wingfoil_spark.stream import Stream

    df = (
        events_df.withColumn("event_type", F.lit(None).cast("string"))
        if "event_type" not in events_df.columns else events_df
    )
    return Stream(
        df.where(F.col("event_type") == etype)
        .select("ts_us", "event_id", "user_id", F.col("value").alias(val_name)),
        ts="ts_us", seq="event_id", keys=("user_id",),
    )


@pytest.fixture(scope="module")
def typed_events(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("user_id", ts_us_expr(ev).alias("ts_us"), "event_id",
                  "event_type", "value")
        .where(F.col("user_id") < 10)
    )


def test_combine_latest_three_way_duality(spark, typed_events):
    """Window-based batch combine_latest == step.run_batch == step.run_stream."""
    from wingfoil_spark.streaming.twins import combine_latest_op

    left = _typed(typed_events, "click", "cv")
    right = _typed(typed_events, "purchase", "pv")

    window_batch = (
        left.combine_latest(right).df.select("user_id", "ts_us", "cv", "pv").toPandas()
    )
    op, union = combine_latest_op(left, right, ["cv"], ["pv"], emit="either")
    step_batch = op.run_batch(union).toPandas()
    streamed = _run_stream_chunks(
        spark, op, union.toPandas(),
        "user_id long, ts_us long, __side int, __seq long, cv double, pv double",
        ["ts_us", "__side", "__seq"], name="combine_twin",
    )

    key = ["user_id", "ts_us"]
    w = window_batch.sort_values(key).reset_index(drop=True)
    b = step_batch[w.columns].sort_values(key).reset_index(drop=True)
    s = streamed[list(w.columns)].sort_values(key).reset_index(drop=True)
    assert len(w) == len(b) == len(s) > 0
    for c in ("cv", "pv"):
        wv, bv, sv = (x[c].to_numpy(dtype=float) for x in (w, b, s))
        nan3 = (wv != wv) & (bv != bv) & (sv != sv)
        assert (((wv == bv) & (bv == sv)) | nan3).all(), f"combine diverged on {c}"


def test_join_passive_duality(spark, typed_events):
    from wingfoil_spark.streaming.twins import combine_latest_op

    left = _typed(typed_events, "purchase", "pv")
    right = _typed(typed_events, "click", "cv")
    window_batch = (
        left.join_passive(right).df.select("user_id", "ts_us", "pv", "cv").toPandas()
    )
    op, union = combine_latest_op(left, right, ["pv"], ["cv"], emit="left")
    step_batch = op.run_batch(union).toPandas()
    key = ["user_id", "ts_us", "pv"]
    w = window_batch.sort_values(key).reset_index(drop=True)
    b = step_batch[w.columns].sort_values(key).reset_index(drop=True)
    assert len(w) == len(b) > 0
    for c in ("pv", "cv"):
        wv, bv = (x[c].to_numpy(dtype=float) for x in (w, b))
        nan2 = (wv != wv) & (bv != bv)
        assert ((wv == bv) | nan2).all(), f"join_passive diverged on {c}"


def test_rolling_stats_duality(spark, typed_events):
    """Window-function stats matrix == step batch == step stream, bitwise."""
    from wingfoil_spark.stream import Stream
    from wingfoil_spark.streaming.twins import rolling_stats_step

    base = typed_events.select("user_id", "ts_us", "event_id", "value")
    s = Stream(base, ts="ts_us", seq="event_id", keys=("user_id",))
    w = s.w_rows(-4, 0)
    dec = F.col("value").cast("decimal(12,2)")
    dec2 = (dec * dec).cast("decimal(24,4)")
    s1 = F.sum(dec).over(w).cast("double")
    s2 = F.sum(dec2).over(w).cast("double")
    cnt = F.count(F.lit(1)).over(w).cast("double")
    var = F.when(cnt > 1, F.greatest((s2 - s1 * s1 / cnt) / (cnt - 1), F.lit(0.0))).otherwise(F.lit(0.0))
    arr = F.sort_array(F.collect_list("value").over(w))
    n_ = F.size(arr)
    med = (F.element_at(arr, ((n_ + 1) / 2).cast("int")) + F.element_at(arr, (n_ / 2 + 1).cast("int"))) / 2
    window_batch = s.df.select(
        "user_id", "ts_us", "event_id", "value",
        s1.alias("st_sum"), (s1 / cnt).alias("st_mean"),
        F.min("value").over(w).alias("st_min"), F.max("value").over(w).alias("st_max"),
        var.alias("st_var"), F.sqrt(var).alias("st_std"), med.alias("st_median"),
    ).toPandas()

    op = KeyedStateOp(
        rolling_stats_step("value", 5, "ts_us", "event_id", ["user_id"]),
        out_schema="user_id long, ts_us long, event_id long, value double, "
                   "st_sum double, st_mean double, st_min double, st_max double, "
                   "st_var double, st_std double, st_median double",
        init_state=None, ts="ts_us", seq="event_id", keys=("user_id",),
    )
    step_batch = op.run_batch(base).toPandas()
    streamed = _run_stream_chunks(
        spark, op, base.toPandas(),
        "user_id long, ts_us long, event_id long, value double",
        ["ts_us", "event_id"], name="stats_twin",
    )
    key = ["user_id", "ts_us", "event_id"]
    wdf = window_batch.sort_values(key).reset_index(drop=True)
    b = step_batch[wdf.columns].sort_values(key).reset_index(drop=True)
    st = streamed[list(wdf.columns)].sort_values(key).reset_index(drop=True)
    assert len(wdf) == len(b) == len(st) > 0
    for c in ("st_sum", "st_mean", "st_min", "st_max", "st_var", "st_std", "st_median"):
        wv, bv, sv = (x[c].to_numpy(dtype=float) for x in (wdf, b, st))
        nan3 = (wv != wv) & (bv != bv) & (sv != sv)
        assert (((wv == bv) & (bv == sv)) | nan3).all(), f"stats diverged on {c}"


def test_range_stats_duality(spark, typed_events):
    """Trailing-DURATION frame (("range", ns) — the r2 gap): window batch ==
    step batch == step stream, bitwise."""
    from wingfoil_spark.stream import Stream
    from wingfoil_spark.streaming.twins import range_stats_step

    W = 3600_000_000  # 1h in µs
    base = typed_events.select("user_id", "ts_us", "event_id", "value")
    s = Stream(base, ts="ts_us", seq="event_id", keys=("user_id",))
    w = s.w_range(-W, 0)
    dec = F.col("value").cast("decimal(12,2)")
    dec2 = (dec * dec).cast("decimal(24,4)")
    s1 = F.sum(dec).over(w).cast("double")
    s2 = F.sum(dec2).over(w).cast("double")
    cnt = F.count(F.lit(1)).over(w).cast("double")
    var = F.when(cnt > 1, F.greatest((s2 - s1 * s1 / cnt) / (cnt - 1), F.lit(0.0))).otherwise(F.lit(0.0))
    arr = F.sort_array(F.collect_list("value").over(w))
    n_ = F.size(arr)
    med = (F.element_at(arr, ((n_ + 1) / 2).cast("int"))
           + F.element_at(arr, (n_ / 2 + 1).cast("int"))) / 2
    window_batch = s.df.select(
        "user_id", "ts_us", "event_id", "value",
        s1.alias("st_sum"), (s1 / cnt).alias("st_mean"),
        F.min("value").over(w).alias("st_min"), F.max("value").over(w).alias("st_max"),
        var.alias("st_var"), F.sqrt(var).alias("st_std"), med.alias("st_median"),
    ).toPandas()

    op = KeyedStateOp(
        range_stats_step("value", W, "ts_us", "event_id", ["user_id"]),
        out_schema="user_id long, ts_us long, event_id long, value double, "
                   "st_sum double, st_mean double, st_min double, st_max double, "
                   "st_var double, st_std double, st_median double",
        init_state=None, ts="ts_us", seq="event_id", keys=("user_id",),
    )
    step_batch = op.run_batch(base).toPandas()
    streamed = _run_stream_chunks(
        spark, op, base.toPandas(),
        "user_id long, ts_us long, event_id long, value double",
        ["ts_us", "event_id"], name="range_twin",
    )
    key = ["user_id", "ts_us", "event_id"]
    wdf = window_batch.sort_values(key).reset_index(drop=True)
    b = step_batch[wdf.columns].sort_values(key).reset_index(drop=True)
    st = streamed[list(wdf.columns)].sort_values(key).reset_index(drop=True)
    assert len(wdf) == len(b) == len(st) > 0
    for c in ("st_sum", "st_mean", "st_min", "st_max", "st_var", "st_std", "st_median"):
        wv, bv, sv = (x[c].to_numpy(dtype=float) for x in (wdf, b, st))
        nan3 = (wv != wv) & (bv != bv) & (sv != sv)
        assert (((wv == bv) & (bv == sv)) | nan3).all(), f"range stats diverged on {c}"


def test_tw_profile_duality(spark, typed_events):
    """Time-weighted matrix (clipped trailing mean/var + cumulative weighted
    median) — the r2 streaming gap: batch kernel == step batch == step
    stream, bitwise (the step re-runs the SHARED kernel on its history)."""
    from wingfoil_spark.operators.stateful import time_weighted_profile
    from wingfoil_spark.stream import Stream
    from wingfoil_spark.streaming.twins import tw_profile_step

    W = 6 * 3600_000_000
    base = typed_events.select("user_id", "ts_us", "value")
    s = Stream(base, ts="ts_us", seq=None, keys=("user_id",))
    batch = time_weighted_profile(s, "value", W).df.select(
        "user_id", "ts_us", "value", "tw_mean", "tw_var", "tw_median"
    ).toPandas()

    op = KeyedStateOp(
        tw_profile_step("value", W, "ts_us", ["user_id"]),
        out_schema="user_id long, ts_us long, value double, "
                   "tw_mean double, tw_var double, tw_median double",
        init_state=None, ts="ts_us", seq=None, keys=("user_id",),
    )
    step_batch = op.run_batch(base).toPandas()
    streamed = _run_stream_chunks(
        spark, op, base.toPandas(),
        "user_id long, ts_us long, value double",
        ["ts_us"], name="tw_twin",
    )
    key = ["user_id", "ts_us"]
    a = batch.sort_values(key).reset_index(drop=True)
    b = step_batch[a.columns].sort_values(key).reset_index(drop=True)
    st = streamed[list(a.columns)].sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) == len(st) > 0
    for c in ("tw_mean", "tw_var", "tw_median"):
        av, bv, sv = (x[c].to_numpy(dtype=float) for x in (a, b, st))
        assert (av == bv).all() and (bv == sv).all(), f"tw diverged on {c}"


def test_tw_range_sample_retention_duality(spark, typed_events):
    """The sample-retention time-weighted range stats (the reference
    default, statistics_time_weighted.rs eviction): decimal window batch ==
    step batch == step stream, bitwise."""
    from wingfoil_spark.stream import Stream
    from wingfoil_spark.streaming.twins import tw_range_step

    W = 6 * 3600_000_000
    base = typed_events.select("user_id", "ts_us", "value")
    s = Stream(base, ts="ts_us", seq=None, keys=("user_id",))
    wname = "__w"
    b = s.map(**{wname: F.lead("ts_us").over(s._w_plain()) - F.col("ts_us")})
    wdec = F.col(wname).cast("decimal(13,0)")
    vdec = F.col("value").cast("decimal(12,2)")
    v2dec = (vdec * vdec).cast("decimal(24,4)")
    wa = b.w_range(-W, 0)
    w0 = F.coalesce(wdec, F.lit(0).cast("decimal(13,0)"))
    sw = (F.sum(wdec).over(wa) - w0).cast("double")
    swv = (F.sum(wdec * vdec).over(wa) - w0 * vdec).cast("double")
    swv2 = (F.sum(wdec * v2dec).over(wa) - w0 * v2dec).cast("double")
    v0 = F.col("value").cast("double")
    mean = F.when(sw.isNull() | (sw == 0), v0).otherwise(swv / sw)
    var = F.when(sw.isNull() | (sw == 0), F.lit(0.0)).otherwise(
        F.greatest(swv2 / sw - (swv / sw) * (swv / sw), F.lit(0.0))
    )
    window_batch = b.df.select(
        "user_id", "ts_us", "value", mean.alias("tw_mean"),
        var.alias("tw_var"), F.sqrt(var).alias("tw_std"),
    ).toPandas()

    op = KeyedStateOp(
        tw_range_step("value", W, "ts_us", ["user_id"]),
        out_schema="user_id long, ts_us long, value double, "
                   "tw_mean double, tw_var double, tw_std double",
        init_state=None, ts="ts_us", seq=None, keys=("user_id",),
    )
    step_batch = op.run_batch(base).toPandas()
    streamed = _run_stream_chunks(
        spark, op, base.toPandas(),
        "user_id long, ts_us long, value double",
        ["ts_us"], name="twr_twin",
    )
    key = ["user_id", "ts_us"]
    w_ = window_batch.sort_values(key).reset_index(drop=True)
    bb = step_batch[w_.columns].sort_values(key).reset_index(drop=True)
    st = streamed[list(w_.columns)].sort_values(key).reset_index(drop=True)
    assert len(w_) == len(bb) == len(st) > 0
    for c in ("tw_mean", "tw_var", "tw_std"):
        wv, bv, sv = (x[c].to_numpy(dtype=float) for x in (w_, bb, st))
        assert ((wv == bv) & (bv == sv)).all(), f"tw-range diverged on {c}"


def test_buffer_step_duality(spark, typed_events):
    """Count-window buffer twin: streaming output == batch buffer on every
    COMPLETE group (a trailing partial group stays pending in state —
    streaming can't know history ended; the batch op emits it)."""
    from wingfoil_spark.stream import Stream
    from wingfoil_spark.streaming.twins import buffer_step

    CAP = 10
    base = typed_events.select("user_id", "ts_us", "event_id", "value")
    s = Stream(base, ts="ts_us", seq="event_id", keys=("user_id",))
    dec = F.col("value").cast("decimal(12,2)")
    batch = s.buffer(CAP, {
        "b_sum": F.sum(dec).cast("double"),
        "b_mean": (F.sum(dec).cast("double") / F.count(F.lit(1))),
        "b_min": F.min("value"),
        "b_max": F.max("value"),
        "b_count": F.count(F.lit(1)),
    }).df.toPandas()

    op = KeyedStateOp(
        buffer_step(CAP, "value", "ts_us", "event_id", ["user_id"]),
        out_schema="user_id long, ts_us long, b_sum double, b_mean double, "
                   "b_min double, b_max double, b_count long",
        init_state=None, ts="ts_us", seq="event_id", keys=("user_id",),
    )
    streamed = _run_stream_chunks(
        spark, op, base.toPandas(),
        "user_id long, ts_us long, event_id long, value double",
        ["ts_us", "event_id"], name="buffer_twin",
    )
    complete = batch[batch["b_count"] == CAP]
    key = ["user_id", "ts_us"]
    a = complete.sort_values(key).reset_index(drop=True)
    b = streamed[list(complete.columns)].sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) > 0
    # exactly the trailing partial per key is withheld in streaming
    n_partial = len(batch) - len(complete)
    assert n_partial <= base.select("user_id").distinct().count()
    for c in ("b_sum", "b_mean", "b_min", "b_max", "b_count"):
        av, bv = (x[c].to_numpy(dtype=float) for x in (a, b))
        assert (av == bv).all(), f"buffer diverged on {c}"


def test_stream_stat_api_on_readstream(spark, typed_events, tmp_path):
    """The r2 gap stated verbatim: a readStream user of
    ``stat(..., ("range", ns))`` hit AnalysisException. Now window_stat
    transparently rebinds to the KeyedStateOp twin on a streaming frame."""
    from wingfoil_spark.stream import Stream

    W = 3600_000_000
    base = typed_events.select("user_id", "ts_us", "event_id", "value")
    batch = (
        Stream(base, ts="ts_us", seq="event_id", keys=("user_id",))
        .stat("value", "mean", ("range", W), out="m")
        .df.select("user_id", "ts_us", "event_id", "m").toPandas()
    )

    src = str(tmp_path / "stat_src")
    os.makedirs(src, exist_ok=True)
    base.toPandas().sort_values(["ts_us", "event_id"]).to_parquet(
        os.path.join(src, "all.parquet"), index=False
    )
    sdf = (
        spark.readStream.schema("user_id long, ts_us long, event_id long, value double")
        .parquet(src)
    )
    out = (
        Stream(sdf, ts="ts_us", seq="event_id", keys=("user_id",))
        .stat("value", "mean", ("range", W), out="m")
        .df
    )
    assert out.isStreaming
    q = (
        out.writeStream.format("memory").queryName("stat_api_twin")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    streamed = spark.sql("SELECT * FROM stat_api_twin").toPandas()

    key = ["user_id", "ts_us", "event_id"]
    a = batch.sort_values(key).reset_index(drop=True)
    b = streamed[["user_id", "ts_us", "event_id", "m"]].sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) > 0
    av, bv = a["m"].to_numpy(dtype=float), b["m"].to_numpy(dtype=float)
    # batch side uses double window sums; the twin uses exact cents ints —
    # cent-rounded inputs make both exact, but guard with ulp-level tolerance
    import numpy as np
    assert np.allclose(av, bv, rtol=1e-12, atol=1e-9), "stat API twin diverged"


def test_ewma_step_matches_batch_operator_bitwise(spark, typed_events):
    """The streaming step and the batch pandas operator are the SAME ewma,
    bit-for-bit — one semantics, three bindings."""
    from wingfoil_spark.operators.stateful import ewma as batch_ewma
    from wingfoil_spark.stream import Stream

    base = typed_events.select("user_id", "ts_us", "event_id", "value")
    s = Stream(base, ts="ts_us", seq="event_id", keys=("user_id",))
    batch = batch_ewma(s, "value", alpha=0.25, out="ewma").df.toPandas()
    step_out = _op().run_batch(base).toPandas()
    key = ["user_id", "ts_us", "event_id"]
    a = batch.sort_values(key).reset_index(drop=True)
    b = step_out.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) > 0
    assert (a["ewma"].to_numpy() == b["ewma"].to_numpy()).all()


def test_throttle_and_dsc_step_duality(spark, typed_events):
    """Streaming twins of throttle_exact / drop_small_change equal the
    batch kernels across micro-batch splits."""
    from wingfoil_spark.operators.stateful import drop_small_change, throttle_exact
    from wingfoil_spark.stream import Stream
    from wingfoil_spark.streaming.twins import drop_small_change_step, throttle_step

    base = typed_events.select("user_id", "ts_us", "event_id", "value")
    s = Stream(base, ts="ts_us", seq="event_id", keys=("user_id",))
    schema = "user_id long, ts_us long, event_id long, value double"

    cases = [
        ("throttle_twin",
         throttle_exact(s, 1800_000_000).df,
         throttle_step(1800_000_000, "ts_us", ["user_id"])),
        ("dsc_twin",
         drop_small_change(s, "value", 50.0).df,
         drop_small_change_step("value", 50.0, ["user_id"])),
    ]
    for name, batch_df, step in cases:
        op = KeyedStateOp(step, out_schema=schema, init_state=None,
                          ts="ts_us", seq="event_id", keys=("user_id",))
        batch = batch_df.toPandas()
        streamed = _run_stream_chunks(
            spark, op, base.toPandas(), schema, ["ts_us", "event_id"], name=name
        )
        key = ["user_id", "ts_us", "event_id"]
        a = batch.sort_values(key).reset_index(drop=True)
        b = streamed[list(batch.columns)].sort_values(key).reset_index(drop=True)
        assert len(a) == len(b) > 0, name
        assert a[key].equals(b[key]), f"{name} diverged"


def test_close_event_releases_slot(spark, typed_events):
    """demux_map Close lifecycle (interp.rs:4145-4168, DemuxEvent :4273):
    a close row resets the member's state (fresh on re-add) in BOTH run
    modes; in streaming a trailing close removes the state-store entry."""
    import pandas as pd

    from wingfoil_spark.streaming.stateful import with_close

    base = typed_events.select(
        "user_id", "ts_us", "event_id", "value",
        (F.col("event_type") == "error").cast("int").alias("close"),
    )
    step = with_close(
        ewma_step("value", 0.25, "ewma", ["user_id", "ts_us", "event_id", "value", "close"]),
        "close", (False, 0.0),
    )
    op = KeyedStateOp(
        step,
        out_schema="user_id long, ts_us long, event_id long, value double, "
                   "close int, ewma double",
        init_state=(False, 0.0), ts="ts_us", seq="event_id", keys=("user_id",),
    )
    batch = op.run_batch(base).toPandas()
    # semantic check vs a python replay: ewma restarts after every close
    pdf = base.toPandas().sort_values(["user_id", "ts_us", "event_id"])
    expected = []
    for _, g in pdf.groupby("user_id"):
        acc, started = 0.0, False
        for _, r in g.iterrows():
            if r["close"]:
                acc, started = 0.0, False
                continue
            acc = r["value"] if not started else 0.75 * acc + 0.25 * r["value"]
            started = True
            expected.append((r["user_id"], r["event_id"], acc))
    exp = pd.DataFrame(expected, columns=["user_id", "event_id", "exp"])
    m = batch.merge(exp, on=["user_id", "event_id"])
    assert len(m) == len(batch) == len(exp) > 0
    assert (m["ewma"].to_numpy() == m["exp"].to_numpy()).all()

    streamed = _run_stream_chunks(
        spark, op, base.toPandas(),
        "user_id long, ts_us long, event_id long, value double, close int",
        ["ts_us", "event_id"], name="close_twin",
    )
    key = ["user_id", "ts_us", "event_id"]
    b = batch.sort_values(key).reset_index(drop=True)
    s = streamed[list(batch.columns)].sort_values(key).reset_index(drop=True)
    assert len(b) == len(s) > 0
    assert (b["ewma"].to_numpy() == s["ewma"].to_numpy()).all()


def test_order_book_batch_vs_stream(spark, events_df):
    """The flagship stateful op (order book) under both run modes."""
    from pyspark.sql import types as T

    from wingfoil_spark.operators import market
    from wingfoil_spark.stream import Stream

    s = Stream(events_df, ts="ts_us", seq="event_id", keys=("user_id",))
    updates = market.book_updates_from_events(s)
    renamed = updates.df.withColumnRenamed("ts_us", "ts")
    op = market.order_book_op([T.StructField("user_id", T.LongType())])

    batch = op.run_batch(renamed).toPandas()

    src_dir = tempfile.mkdtemp(prefix="wf_book_src_")
    try:
        pdf = renamed.toPandas().sort_values(["ts", "upd_seq"])
        n = len(pdf)
        bounds = [0, n // 3, 2 * n // 3, n]
        for i in range(3):
            path = os.path.join(src_dir, f"chunk-{i:03d}.parquet")
            pdf.iloc[bounds[i]:bounds[i + 1]].to_parquet(path, index=False)
            os.utime(path, (time.time() + i, time.time() + i))
        schema = ("user_id long, ts long, upd_seq long, kind string, "
                  "side string, level long, qty_delta long")
        stream_df = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = (
            op.run_stream(stream_df)
            .writeStream.format("memory")
            .queryName("book_duality")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        streamed = spark.sql("SELECT * FROM book_duality").toPandas()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)

    key = ["user_id", "ts", "upd_seq"]
    b = batch.sort_values(key).reset_index(drop=True)
    st = streamed.sort_values(key).reset_index(drop=True)
    assert len(b) == len(st) > 0
    for c in ("best_bid", "bid_qty", "best_ask", "ask_qty", "n_bid_levels"):
        bv = b[c].to_numpy(dtype=float)
        sv = st[c].to_numpy(dtype=float)
        both_nan = (bv != bv) & (sv != sv)
        assert ((bv == sv) | both_nan).all(), f"order book diverged on {c}"
