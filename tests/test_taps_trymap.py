"""Lazy tap + fallible-map contracts.

- ``inspect`` (fluent.rs:1000, ops.rs:415-447) must be a LAZY pass-through:
  wiring it runs no Spark job; the effect fires when a downstream action
  materializes the stream.
- ``try_map`` (fluent.rs:787, 873-896) routes per-row failures to an error
  side stream instead of failing the task.
"""

import os
import shutil
import tempfile
import time

import pytest

from pyspark.sql import functions as F

from wingfoil_spark.sources.tables import load_table, ts_us_expr
from wingfoil_spark.stream import Stream

SF = "/root/testdata/sf0.001"


def _events(spark, n=200):
    ev = load_table(spark, SF, "events")
    df = (
        ev.select(ts_us_expr(ev).alias("ts_us"), "event_id", "user_id", "value")
        .limit(n)
    )
    return Stream(df, ts="ts_us", seq="event_id", keys=("user_id",))


def test_inspect_runs_no_job_at_wiring(spark):
    s = _events(spark)
    with tempfile.TemporaryDirectory() as d:
        marker = os.path.join(d, "tapped")

        def tap(row):
            with open(marker, "a") as f:
                f.write("x\n")

        tracker = spark.sparkContext.statusTracker()
        jobs_before = set(tracker.getJobIdsForGroup(None) or [])
        tapped = s.inspect(tap)  # wiring: must NOT run a job
        jobs_after = set(tracker.getJobIdsForGroup(None) or [])
        assert jobs_after == jobs_before, "inspect ran a Spark job at wiring time"
        assert not os.path.exists(marker), "tap fired before any action"

        n = tapped.df.count()  # action: now the tap fires
        assert n > 0
        with open(marker) as f:
            assert len(f.readlines()) == n


def test_inspect_passes_rows_through_unchanged(spark):
    s = _events(spark)
    base = {tuple(r) for r in s.df.collect()}
    tapped = {tuple(r) for r in s.inspect(lambda r: None).df.collect()}
    assert tapped == base


def test_try_filter_and_try_fold(spark):
    s = _events(spark)

    def pred(row):
        if row["value"] < 1.0:
            raise ValueError("degenerate")
        return row["value"] > 100

    kept, err = s.try_filter(pred)
    k, e, total = kept.df.count(), err.df.count(), s.df.count()
    assert k > 0 and k < total
    assert all(r.value > 100 for r in kept.df.collect())

    def stepper(acc, row):
        if row["value"] > 240:
            raise ValueError("spike")
        return acc + row["value"]

    ok, ferr = s.try_fold(stepper, 0.0, out="acc")
    ok_rows = ok.df.count()
    ferr_rows = ferr.df.collect()
    assert ok_rows + len(ferr_rows) == total
    # error rows skipped: accumulator unaffected by spiking rows
    if ferr_rows:
        assert all(r.error.startswith("ValueError: spike") for r in ferr_rows)


def test_try_fold_streamed_equals_batch(spark):
    """try_fold on a stream fed as time-ordered micro-batches emits the
    batch (ok, err) rows: the accumulator, and the skip past an erroring
    row, carry across micro-batch boundaries."""
    s = _events(spark)

    def stepper(acc, row):
        if row["value"] > 240:
            raise ValueError("spike")
        return acc + row["value"]

    want = [
        sorted(tuple(r) for r in side.df.collect())
        for side in s.try_fold(stepper, 0.0, out="acc")
    ]
    assert want[0] and want[1], "fixture should hold ok and spiking rows"

    pdf = s.df.toPandas().sort_values(["ts_us", "event_id"], kind="mergesort")
    src = tempfile.mkdtemp(prefix="wf_try_fold_src_")
    got = []
    try:
        n = len(pdf)
        for i in range(3):
            path = os.path.join(src, f"chunk-{i:03d}.parquet")
            pdf.iloc[n * i // 3:n * (i + 1) // 3].to_parquet(path, index=False)
            os.utime(path, (time.time() + i, time.time() + i))
        sdf = (
            spark.readStream.schema(s.df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sides = Stream(sdf, ts="ts_us", seq="event_id", keys=("user_id",)).try_fold(
            stepper, 0.0, out="acc"
        )
        for name, side in zip(("try_fold_ok", "try_fold_err"), sides):
            q = (
                side.df.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
            assert sum(p["numInputRows"] > 0 for p in q.recentProgress) >= 2
            got.append(sorted(tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()))
    finally:
        shutil.rmtree(src, ignore_errors=True)
    assert got == want


def test_try_map_routes_errors_to_side_stream(spark):
    s = _events(spark)

    def risky(row):
        if row["value"] > 200:
            raise ValueError(f"too big: {row['value']}")
        return row["value"] * 2.0

    ok, err = s.try_map(risky, out="doubled")
    ok_rows = ok.df.collect()
    err_rows = err.df.collect()
    total = s.df.count()
    assert len(ok_rows) + len(err_rows) == total
    assert len(err_rows) > 0, "fixture should contain values > 200"
    assert all(r.doubled == r.value * 2.0 for r in ok_rows)
    assert all(r.error.startswith("ValueError: too big") for r in err_rows)
    assert all(r.value > 200 for r in err_rows)


def test_try_map_abort_mode_names_node_and_chains_cause(spark):
    """fallibility.rs:19-57 — the reference's abort contract: a failing
    cycle stops the run, the error names the node (TryMap) and chains the
    op's own message. on_error='abort' reproduces both."""
    from py4j.protocol import Py4JJavaError

    from wingfoil_spark.sources.tables import replay_rows
    from wingfoil_spark.stream import Stream

    # one partition: with several, whichever partition hits its first
    # failing row wins the abort race (the reference engine is
    # single-threaded, so its failing cycle is deterministic)
    s = Stream(replay_rows(
        spark, [(i * 10, i + 1) for i in range(5)], "ts long, n long").df.coalesce(1),
        ts="ts")

    def risky(row):
        if row["n"] >= 3:
            raise ValueError(f"boom at count {row['n']}")
        return row["n"] * 10

    ok, _ = s.try_map(risky, out="v", on_error="abort")
    with pytest.raises(Exception) as ei:
        ok.df.collect()
    msg = str(ei.value)
    assert "TryMap" in msg, "error should name the node"
    assert "boom at count 3" in msg, "error should chain the cause"
    with pytest.raises(ValueError, match="route"):
        s.try_map(risky, on_error="nope")


def test_sink_error_aborts_with_context(spark):
    """fallibility.rs:84-104 — a fallible sink's error aborts the run with
    its own message chained. for_each propagates the raise through the
    task failure."""
    from wingfoil_spark.sources.tables import replay_rows
    from wingfoil_spark.stream import Stream

    s = Stream(replay_rows(
        spark, [(i * 10, i + 1) for i in range(4)], "ts long, n long").df, ts="ts")

    def sink(row):
        if row.n == 2:
            raise RuntimeError(f"sink write failed at {row.n}")

    with pytest.raises(Exception) as ei:
        s.for_each(sink)
    assert "sink write failed at 2" in str(ei.value)


def test_finally_sees_last_value_on_clean_completion(spark):
    """fallibility.rs:62-78 — teardown observes the final value after a
    clean run: last_values (the finally hook's input) reads 3."""
    from wingfoil_spark.sources.tables import replay_rows
    from wingfoil_spark.stream import Stream

    s = Stream(replay_rows(
        spark, [(i * 10, i + 1) for i in range(3)], "ts long, n long").df, ts="ts")
    assert [r.n for r in s.last_values().collect()] == [3]
