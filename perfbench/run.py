#!/usr/bin/env python3
"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload llm_batch --seed 1 --seconds 22 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics and
writes the spans to ``.perfbench/trace/``. Everything the run writes stays
under ``.perfbench/`` at the checkout root. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import tempfile
import time

T_IMPORT = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402
from perfbench.trace import Tracer, install  # noqa: E402

WORKLOADS = ("llm_batch", "event_stream")
CPUS = 4


class Ctx:
    """One run: its arguments, its directories under ``.perfbench/``, the
    Spark session it owns, and (when traced) the tracer."""

    def __init__(self, args):
        self.args = args
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.work = os.path.join(ROOT, ".perfbench")
        self.run_dir = os.path.join(self.work, "run", f"{args.workload}-{os.getpid()}")
        self.eventlog = os.path.join(self.run_dir, "eventlog")
        self.tracer = Tracer() if self.trace else None
        self.spark = None
        self.noise = [host.noise()]
        for d in (self.run_dir, self.eventlog, os.path.join(self.work, "cache"),
                  os.path.join(self.work, "trace")):
            os.makedirs(d, exist_ok=True)
        self._env()

    def _env(self):
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ.update({
            # Python workers import the package from the checkout, whatever the cwd
            "PYTHONPATH": os.pathsep.join(paths),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "XDG_CACHE_HOME": os.path.join(self.work, "cache"),
            "SPARK_LOCAL_DIRS": tmp,
            "SPARK_DRIVER_MEMORY": "1g",
        })
        tempfile.tempdir = None  # re-read TMPDIR
        # a pre-touched fixed heap keeps the JVM's share of peak RSS constant
        java_opts = f"-Djava.io.tmpdir={tmp} -Xms1g -XX:+AlwaysPreTouch"
        conf = ["--driver-java-options", shlex.quote(java_opts),
                "--conf", f"spark.sql.warehouse.dir={os.path.join(self.run_dir, 'warehouse')}"]
        if self.trace:
            conf += ["--conf", "spark.eventLog.enabled=true",
                     "--conf", "spark.eventLog.compress=false",
                     "--conf", "spark.eventLog.rolling.enabled=false",
                     "--conf", f"spark.eventLog.dir=file://{self.eventlog}"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])

    def start_session(self, cpus: int = CPUS):
        """Import the engine and start ``local[cpus]``; the tracer's wrappers
        go in before ``__spark_entry__`` is imported."""
        if self.tracer is not None and self.tracer.sc is None:
            # the progress listener is the benchmark's instrument, not a layer call
            install(self.tracer, skip=("wingfoil_spark.streaming.metrics",))
        from wingfoil_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.args.workload}", cpus=cpus)
        if self.tracer is not None:
            self.tracer.sc = self.spark.sparkContext
        return self.spark

    def stop_session(self):
        """Stop Spark, end the JVM and wait until every process it started
        (the ``pyspark.daemon`` workers too) has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        kids = set(host.tree()) - {os.getpid()}
        self.spark.stop()
        self.spark = None
        if self.tracer is not None:
            self.tracer.sc = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=20)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 20
        while kids & set(host.tree()) and time.time() < deadline:
            time.sleep(0.1)
        for pid in kids & set(host.tree()):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass

    def restart_session(self, cpus: int):
        """A new SparkContext with another master in the same JVM."""
        self.spark.stop()
        return self.start_session(cpus)

    def dump_trace(self, extra=()):
        path = os.path.join(self.work, "trace",
                            f"{self.args.workload}-seed{self.seed}-{os.getpid()}.json")
        self.tracer.dump(path, extra)
        print(f"perfbench: spans written to {os.path.relpath(path, ROOT)}")

    def finish(self):
        self.stop_session()
        self.noise.append(host.noise())
        a, b = self.noise
        print("perfbench: host noise " + json.dumps({
            "steal_jiffies": b["steal_jiffies"] - a["steal_jiffies"],
            "loadavg_start": a["loadavg"], "loadavg_end": b["loadavg"],
            "other_spark_jvms": max(a["other_spark_jvms"], b["other_spark_jvms"]),
            "run_wall_s": round(time.time() - T_IMPORT, 2),
        }))
        shutil.rmtree(self.run_dir, ignore_errors=True)


def parse(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    missing = [p for p in ("wingfoil_spark/__init__.py", "__spark_entry__.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a wingfoil_spark checkout, missing {missing}", file=sys.stderr)
        return 2
    ctx = Ctx(args)
    try:
        if args.workload == "event_stream":
            from perfbench import stream as wl
        else:
            from perfbench import batch as wl
        result = wl.run(ctx)
    finally:
        ctx.finish()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
