"""The per-layer metric names and units every traced run prints (metrics a
workload does not exercise read 0; BENCHMARK.json lists the same names),
and the roll-ups from spans and event-log jobs that fill them."""

from perfbench import eventlog
from perfbench.trace import LAYERS as MODULE_LAYERS

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.load_s": "s",
    "sources.getBatch_ms_p50": "ms",
    "sources.latestOffset_ms_p50": "ms",
    "sources.backlog_files_max": "count",
    "sources.gen_late_ms_max": "ms",
    **{f"{lay}.{k}": u for lay in MODULE_LAYERS
       for k, u in (("calls", "count"), ("self_s", "s"), ("py4j_calls", "count"),
                    ("side_jobs", "count"))},
    "entry.build_s": "s",
    "entry.py4j_calls": "count",
    "entry.py4j_gc_calls": "count",
    "entry.side_jobs": "count",
    "spark.plan.analysis_ms": "ms",
    "spark.plan.optimization_ms": "ms",
    "spark.plan.planning_ms": "ms",
    "spark.exec.wall_s": "s",
    "spark.exec.jobs": "count",
    "spark.exec.stages": "count",
    "spark.exec.tasks": "count",
    "spark.exec.failed_tasks": "count",
    "spark.exec.task_run_s": "s",
    "spark.exec.task_cpu_s": "s",
    "spark.exec.task_wait_s": "s",
    "spark.exec.gc_s": "s",
    "spark.exec.shuffle_write_bytes": "bytes",
    "spark.exec.shuffle_read_bytes": "bytes",
    "spark.exec.spill_bytes": "bytes",
    "spark.exec.python_cpu_s": "s",
    "spark.exec.jvm_cpu_s": "s",
    "streaming.batches": "count",
    "streaming.rows_per_batch_p50": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.trigger_ms_p90": "ms",
    "streaming.idle_s": "s",
    "streaming.queryPlanning_ms_p50": "ms",
    "streaming.walCommit_ms_p50": "ms",
    "streaming.commitOffsets_ms_p50": "ms",
    "streaming.addBatch_ms_p50": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_commit_ms_p50": "ms",
    "baseline.local4_pass_s": "s",
    "baseline.local1_pass_s": "s",
    "trace.pass_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.bookkeeping_s": "s",
    "trace.spans": "count",
}


def report(values: dict[str, float]) -> dict:
    """The ``metrics`` object of a traced run: every per-layer name, in order."""
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"unlisted per-layer metrics {sorted(unknown)}")
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}


def module_metrics(tracer, jobs: dict) -> tuple[dict[str, float], list[dict]]:
    """Per-module calls / self time / py4j commands / side-jobs, the
    ``entry`` counters, and one span per Spark job parented by the span
    whose job group started it (jobs outside any traced span are skipped)."""
    out: dict[str, float] = {}
    totals = tracer.layer_totals()
    span_by_group = {s.attrs.get("group"): s for s in tracer.spans}
    side = {lay: 0 for lay in MODULE_LAYERS}
    entry_side = 0
    job_spans = []
    for (app, jid), j in sorted(jobs.items(), key=lambda kv: kv[1]["start"]):
        parent = span_by_group.get(j["group"])
        if parent is None:
            continue
        if parent.layer in side:
            side[parent.layer] += 1
        elif parent.layer == "build":
            entry_side += 1
        job_spans.append({"id": f"{app}:job{jid}", "name": f"job {jid}", "layer": "spark.job",
                          "start": j["start"], "end": j["end"], "parent": parent.id})
    for lay in MODULE_LAYERS:
        t = totals[lay]
        out[f"{lay}.calls"] = t["calls"]
        out[f"{lay}.self_s"] = t["self_s"]
        out[f"{lay}.py4j_calls"] = t["py4j_calls"]
        out[f"{lay}.side_jobs"] = side[lay]
    out["sources.load_s"] = totals["sources"]["self_s"]
    out["entry.py4j_calls"] = tracer.py4j.get("entry", 0)
    out["entry.py4j_gc_calls"] = tracer.py4j_gc
    out["entry.side_jobs"] = entry_side
    out["trace.bookkeeping_s"] = tracer.bookkeeping_s
    out["trace.spans"] = len(tracer.spans) + len(job_spans)
    return out, job_spans


def exec_metrics(jobs: list[dict], wall: float, cpu0: dict, cpu1: dict) -> dict[str, float]:
    """``spark.exec.*`` from the executing jobs' task metrics, plus the
    /proc CPU deltas of the Python workers and the JVM."""
    ex = eventlog.totals(jobs)
    return {
        "spark.exec.wall_s": wall,
        "spark.exec.jobs": ex["jobs"],
        "spark.exec.stages": ex["stages"],
        "spark.exec.tasks": ex["tasks"],
        "spark.exec.failed_tasks": ex["failed_tasks"],
        "spark.exec.task_run_s": ex["run_s"],
        "spark.exec.task_cpu_s": ex["cpu_s"],
        "spark.exec.task_wait_s": ex["wait_s"],
        "spark.exec.gc_s": ex["gc_s"],
        "spark.exec.shuffle_write_bytes": ex["shuffle_write"],
        "spark.exec.shuffle_read_bytes": ex["shuffle_read"],
        "spark.exec.spill_bytes": ex["spill"],
        "spark.exec.python_cpu_s": cpu1["python"] - cpu0["python"],
        "spark.exec.jvm_cpu_s": cpu1["jvm"] - cpu0["jvm"],
    }
