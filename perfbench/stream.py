"""Open-loop stream workload ``event_stream``: a generator thread drops
seeded event files on a fixed schedule into a directory that
``Stream(readStream…).stat("value", "mean", ("range", 1 h))`` consumes on a
fixed trigger; the generator never waits for the engine. Each file is timed
from its due time until the sink has received its rows."""

from __future__ import annotations

import contextlib
import os
import threading
import time

import pyarrow as pa

from perfbench import check, eventlog, gen, host, layers
from perfbench.stats import median, percentile, sample_note

RATE = 10.0          # files per second offered
PER_FILE = 30        # events per file -> 300 events/s
TRIGGER = "3 seconds"  # fixed micro-batch interval, above the ~1.5 s batch
KEYS = 1_500
FILE_SPAN_US = 60_000_000  # each file covers one minute of event time
WINDOW_US = 3_600_000_000  # the stat's ("range", 1 h) frame
WARM_S = 6.0         # warm-up files (two triggers), part of set-up
DRAIN_S = 60.0
SCHEMA = "event_id long, user_id long, value double, ts_us long"


def _stream_table(t: pa.Table) -> pa.Table:
    return pa.table({
        "event_id": t.column("event_id"),
        "user_id": t.column("user_id"),
        "value": t.column("value"),
        "ts_us": t.column("ts").cast(pa.int64()),
    })


def build(spark, df):
    """The workload's DAG; the same function serves the stream and its
    batch twin."""
    from wingfoil_spark.stream import Stream

    return (Stream(df, ts="ts_us", seq="event_id", keys=("user_id",))
            .stat("value", "mean", ("range", WINDOW_US), out="m")
            .df.select("event_id", "m"))


class Sink:
    """foreachBatch target: keeps every delivered row, the time each file's
    rows arrived, and per batch (arrival time, rows, process-tree CPU
    seconds at arrival)."""

    def __init__(self):
        self.lock = threading.Lock()
        self.frames = []
        self.arrived: dict[int, float] = {}
        self.rows: dict[int, int] = {}
        self.batches: list[tuple[float, int, float]] = []

    def __call__(self, df, batch_id):
        pdf = df.toPandas()
        now = time.time()
        cpu = host.cpu_split()["total"]
        files = (pdf["event_id"] // PER_FILE).value_counts()
        with self.lock:
            self.frames.append(pdf)
            self.batches.append((now, len(pdf), cpu))
            for f, n in files.items():
                self.rows[int(f)] = self.rows.get(int(f), 0) + int(n)
                if self.rows[int(f)] >= PER_FILE:
                    self.arrived.setdefault(int(f), now)

    def count_arrived(self, files) -> int:
        with self.lock:
            return sum(f in self.arrived for f in files)


class Generator(threading.Thread):
    """Drops files ``first … first+n-1`` at ``start + i / RATE``; records how
    late each drop finished against its due time and the backlog (files
    dropped but not yet delivered) at each drop."""

    def __init__(self, src, tables, first, n, start, sink):
        super().__init__(daemon=True)
        self.src, self.tables, self.first, self.n = src, tables, first, n
        self.start_at, self.sink = start, sink
        self.due: dict[int, float] = {}
        self.late: list[float] = []
        self.backlog: list[int] = []
        self.error = None

    def run(self):
        try:
            for i in range(self.n):
                f = self.first + i
                due = self.start_at + i / RATE
                self.due[f] = due
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                gen.drop_file(self.src, f"part-{f:05d}.parquet", self.tables[f])
                self.late.append(time.time() - due)
                self.backlog.append(i + 1 - self.sink.count_arrived(
                    range(self.first, f + 1)))
        except Exception as e:  # surfaced by the caller
            self.error = e


def steady(batches: list[tuple[float, int, float]], since: float,
           until: float) -> tuple[float, float]:
    """(rows/s, CPU ms per 1,000 rows) over the batches the sink received
    while the generator was feeding the engine: from the first arrival after
    ``since`` to the last one by ``until``, counting the rows and CPU after
    the first. With a fixed trigger each such batch carries one whole
    interval of files, so the rate stays at the offered rate while the
    engine keeps up, and rows and CPU cover the same batches."""
    bs = sorted(b for b in batches if since <= b[0] <= until and b[1] > 0)
    if len(bs) < 2:
        return 0.0, 0.0
    rows = sum(b[1] for b in bs[1:])
    return rows / (bs[-1][0] - bs[0][0]), 1e6 * (bs[-1][2] - bs[0][2]) / rows


def _wait(sink, files, timeout, query) -> bool:
    """Until every file in ``files`` has reached the sink; False on timeout
    or when the query has stopped (its error is printed)."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if sink.count_arrived(files) == len(files):
            return True
        if not query.isActive:
            print(f"perfbench: the streaming query stopped: {query.exception()}"[:400])
            return False
        time.sleep(0.02)
    return False


def run(ctx) -> dict:
    n_warm, n_win = int(WARM_S * RATE), max(1, int(round(ctx.seconds * RATE)))
    tables = [_stream_table(t) for t in
              gen.event_files(ctx.seed, n_warm + n_win, PER_FILE, KEYS, FILE_SPAN_US)]
    src = os.path.join(ctx.run_dir, "src")
    ckpt = os.path.join(ctx.run_dir, "ckpt")
    os.makedirs(src)
    sink = Sink()
    tr = ctx.tracer
    with host.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = ctx.start_session()
        t_session = time.perf_counter()
        listener = None
        if tr is not None:
            from wingfoil_spark.streaming.metrics import attach

            tr.enabled = True
            listener = attach(spark)
        with (tr.span("build", "build", group="wfbuild:event_stream") if tr
              else contextlib.nullcontext()) as b:
            sdf = spark.readStream.schema(SCHEMA).parquet(src)
            q = (build(spark, sdf).writeStream.foreachBatch(sink).trigger(processingTime=TRIGGER)
                 .option("checkpointLocation", ckpt).start())
        build_s = (time.time() - b.start) if tr else 0.0

        warm = Generator(src, tables, 0, n_warm, time.time(), sink)
        warm.start()
        warm.join()
        warm_ok = _wait(sink, range(n_warm), 60, q)
        t_setup = time.perf_counter()

        cpu0 = host.cpu_split()
        t_win = time.time()
        g = Generator(src, tables, n_warm, n_win, t_win, sink)
        g.start()
        g.join()
        win_files = range(n_warm, n_warm + n_win)
        _wait(sink, win_files, DRAIN_S, q)
        t_end = time.time()
        cpu1 = host.cpu_split()
        q.stop()
        if tr is not None:
            tr.enabled = False
        if g.error or warm.error:
            raise RuntimeError(f"generator failed: {g.error or warm.error}")

        # the batch twin over the same files: the same DAG replayed
        import pandas as pd

        def replay(spark):
            return build(spark, spark.read.schema(SCHEMA).parquet(src))

        batch = replay(spark).toPandas()
        streamed = pd.concat(sink.frames, ignore_index=True)
        bad_files = {int(e) // PER_FILE for e in
                     check.stream_mismatch(streamed, batch, "event_id", ["m"])}
    arrived = dict(sink.arrived)
    lat = [arrived[f] - g.due[f] for f in win_files if f in arrived]
    missing = [f for f in list(range(n_warm)) + list(win_files) if f not in arrived]
    failed_files = set(missing) | bad_files
    attempted = n_warm + n_win
    if failed_files:
        print(f"perfbench: {len(missing)} files undelivered, {len(bad_files)} differ "
              "from the batch twin")
    result = {"correct": warm_ok and not bad_files, "attempted": attempted,
              "failed": len(failed_files)}
    rate, cpu_per_krow = steady(sink.batches, t_win, g.due[n_warm + n_win - 1])
    print(f"perfbench: {sample_note(len(lat))}; offered "
          f"{RATE * PER_FILE:.0f} rows/s; generator late max "
          f"{1e3 * max(g.late):.1f} ms; error_rate {len(failed_files) / attempted:.4f}")
    if tr is None:
        result["metrics"] = {
            "setup_s": {"value": t_setup - t0, "unit": "s"},
            "rows_per_s": {"value": rate, "unit": "rows/s"},
            "latency_p50_s": {"value": median(lat), "unit": "s"},
            "latency_p90_s": {"value": percentile(lat, 90), "unit": "s"},
            "cpu_ms_per_krow": {"value": cpu_per_krow, "unit": "ms"},
            "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
        }
        return result

    vals = {"session.start_s": t_session - t0, "session.warmup_s": t_setup - t_session,
            "entry.build_s": build_s,
            "sources.backlog_files_max": max(g.backlog),
            "sources.gen_late_ms_max": 1e3 * max(g.late)}
    progress = [p for p in listener.progress
                if _ts(p["timestamp"]) >= t_win and _ts(p["timestamp"]) <= t_end]
    vals.update(_progress_metrics(progress, t_end - t_win))
    # single-threaded baseline: the batch twin on local[4], then on a fresh
    # local[1] context (one untimed pass first, as on local[4])
    vals["baseline.local4_pass_s"] = _timed_noop(replay(spark))
    spark1 = ctx.restart_session(1)
    _timed_noop(replay(spark1))
    vals["baseline.local1_pass_s"] = _timed_noop(replay(spark1))
    ctx.stop_session()
    jobs = eventlog.read(ctx.eventlog)
    mods, job_spans = layers.module_metrics(tr, jobs)
    vals.update(mods)
    in_window = [j for j in jobs.values()
                 if t_win <= j["start"] <= t_end and not (j["group"] or "").startswith("wf")]
    vals.update(layers.exec_metrics(in_window, t_end - t_win, cpu0, cpu1))
    ctx.dump_trace(job_spans + _batch_spans(progress))
    result["metrics"] = layers.report(vals)
    return result


def _timed_noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def _ts(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _progress_metrics(progress: list[dict], wall: float) -> dict[str, float]:
    def dur(key):
        return [float((p.get("durationMs") or {}).get(key, 0)) for p in progress]

    def state(key):
        return [float((p.get("stateOperators") or [{}])[0].get(key, 0)) for p in progress]

    rows = [sum(s.get("numInputRows") or 0 for s in p.get("sources") or []) for p in progress]
    trig = dur("triggerExecution")
    return {
        "streaming.batches": len(progress),
        "streaming.rows_per_batch_p50": median(rows),
        "streaming.trigger_ms_p50": median(trig),
        "streaming.trigger_ms_p90": percentile(trig, 90),
        "streaming.idle_s": max(0.0, wall - sum(trig) / 1e3),
        "streaming.queryPlanning_ms_p50": median(dur("queryPlanning")),
        "streaming.walCommit_ms_p50": median(dur("walCommit")),
        "streaming.commitOffsets_ms_p50": median(dur("commitOffsets")),
        "streaming.addBatch_ms_p50": median(dur("addBatch")),
        "streaming.state_rows": state("numRowsTotal")[-1] if progress else 0,
        "streaming.state_bytes": state("memoryUsedBytes")[-1] if progress else 0,
        "streaming.state_commit_ms_p50": median(state("commitTimeMs")),
        "sources.getBatch_ms_p50": median(dur("getBatch")),
        "sources.latestOffset_ms_p50": median(dur("latestOffset")),
    }


def _batch_spans(progress: list[dict]) -> list[dict]:
    """query → micro-batch → its ``durationMs`` parts (laid end to end from
    the batch start; Spark reports their lengths, not their offsets)."""
    out = []
    for p in progress:
        start = _ts(p["timestamp"])
        d = p.get("durationMs") or {}
        bid = f"batch{p['batchId']}"
        out.append({"id": bid, "name": f"micro-batch {p['batchId']}", "layer": "streaming.batch",
                    "start": start, "end": start + d.get("triggerExecution", 0) / 1e3,
                    "parent": "query"})
        t = start
        for k, v in d.items():
            if k != "triggerExecution":
                out.append({"id": f"{bid}.{k}", "name": k, "layer": "streaming.part",
                            "start": t, "end": t + v / 1e3, "parent": bid})
                t += v / 1e3
    return out
