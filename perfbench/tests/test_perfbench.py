"""Unit tests of the benchmark's own arithmetic; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import time

import pyarrow as pa
import pytest

from perfbench import gen, stats, stream
from perfbench.layers import PER_LAYER
from perfbench.trace import Span, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_percentile_interpolates_between_closest_ranks():
    xs = list(range(1, 102))
    assert stats.percentile(xs, 50) == 51
    assert stats.percentile(xs, 90) == 91
    assert stats.beyond(101, 90) == 10
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert stats.percentile([], 90) == 0.0
    assert stats.percentile([3.0], 90) == 3.0
    # nine and twelve samples of one pass mix: p90 stays near the
    # second-slowest, where the nearest rank jumps from the slowest
    three = [0.7, 0.7, 0.7, 2.0, 2.2, 2.4, 2.6, 2.8, 4.0]
    four = three + [0.7, 2.1, 2.7]
    assert 2.7 <= stats.percentile(three, 90) <= 3.1
    assert 2.7 <= stats.percentile(four, 90) <= 3.1


def test_tail_percentile_keeps_ten_samples_beyond():
    assert stats.tail_percentile(10) is None
    assert stats.tail_percentile(11) == 0.0
    for n in (11, 25, 100, 120, 1000):
        p = stats.tail_percentile(n)
        assert stats.beyond(n, p) == 10
        assert stats.beyond(n, p + 100.0 / (n - 1)) == 9
    assert stats.sample_note(140).endswith("(p92 is the highest with ten)")
    assert stats.sample_note(8).endswith("(none has ten beyond it)")


def _span(i, start, end, parent=None, thread=1):
    s = Span(i, f"s{i}", "stream", start, parent, thread)
    s.end = end
    return s


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, parent=1),
        _span(3, 3.0, 5.0, parent=1),   # overlaps 2: union 1..5
        _span(4, 8.0, 12.0, parent=1),  # clipped to the parent's end
        _span(5, 1.5, 2.0, parent=2),
    ]
    own = self_times(spans)
    assert own[1] == 10.0 - 4.0 - 2.0
    assert own[2] == 3.0 - 0.5
    assert own[3] == 2.0 and own[5] == 0.5 and own[4] == 4.0


def test_generators_are_deterministic_per_seed():
    for make in (lambda s: gen.documents(s, 40),
                 lambda s: gen.embeddings(s, 30)):
        assert make(7).equals(make(7))
        assert not make(7).equals(make(8))
    a = gen.event_files(7, 4, 10, 50, 1_000_000)
    b = gen.event_files(7, 4, 10, 50, 1_000_000)
    assert all(x.equals(y) for x, y in zip(a, b))


def test_event_files_have_contiguous_ids_and_ordered_time():
    files = gen.event_files(3, 5, 20, 100, 1_000_000)
    last_ts = None
    for i, t in enumerate(files):
        ids = t.column("event_id").to_pylist()
        assert ids == list(range(i * 20, (i + 1) * 20))
        ts = t.column("ts").cast(pa.int64()).to_pylist()
        assert ts == sorted(ts)
        assert last_ts is None or ts[0] >= last_ts
        last_ts = ts[-1]


class _NoSink:
    def count_arrived(self, files):
        return 0


def test_open_loop_generator_keeps_its_schedule_through_a_stall(tmp_path, monkeypatch):
    """A slow drop makes later files late; the schedule is not shifted, and
    the backlog counts every undelivered file."""
    real_drop = gen.drop_file

    def slow_first(d, name, table):
        if name.endswith("00000.parquet"):
            time.sleep(0.5)
        return real_drop(d, name, table)

    monkeypatch.setattr(gen, "drop_file", slow_first)
    tables = [pa.table({"x": [i]}) for i in range(4)]
    start = time.time()
    g = stream.Generator(str(tmp_path), tables, 0, 4, start, _NoSink())
    g.run()
    assert g.error is None
    assert [g.due[i] - start for i in range(4)] == pytest.approx(
        [i / stream.RATE for i in range(4)])
    assert g.late[0] >= 0.5
    # file 1 was due 1/RATE after file 0 but could only go after the stall
    assert g.late[1] >= 0.5 - 1 / stream.RATE - 0.01
    assert g.backlog == [1, 2, 3, 4]
    assert sorted(os.listdir(tmp_path)) == [f"part-{i:05d}.parquet" for i in range(4)]


def test_steady_window_pairs_rows_and_cpu_of_the_same_batches():
    batches = [(5.0, 90, 1.0),     # warm-up, before the window
               (10.0, 90, 2.0), (13.0, 90, 5.0), (16.0, 90, 8.0),
               (19.0, 30, 9.0)]    # drain, after the last drop
    rate, cpu_ms = stream.steady(batches, since=9.0, until=17.0)
    assert rate == 180 / 6.0
    assert cpu_ms == 1e6 * 6.0 / 180
    assert stream.steady(batches[:2], since=9.0, until=17.0) == (0.0, 0.0)


def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["per_layer"]] == list(PER_LAYER)
    assert all(m["unit"] == PER_LAYER[m["name"]] for m in spec["per_layer"])
    assert {m["name"] for m in spec["end_to_end"]} == {
        "setup_s", "rows_per_s", "latency_p50_s", "latency_p90_s",
        "cpu_ms_per_krow", "peak_rss_mb"}
