"""``session.materialize`` / ``session.release``: the one place that pins a
frame, tags the pinning jobs with the caller, frees pinned blocks, and
states what happens to them when an executor is lost."""

import ast
import functools
import os
import pathlib
import re
import subprocess
import sys

import pytest
import pyspark.sql.functions as F

from wingfoil_spark import session
from wingfoil_spark.plans.iterate import feedback_iterate

REPO = pathlib.Path(__file__).resolve().parent.parent


def _pinned_rdd_ids(spark) -> set[int]:
    jsc = spark.sparkContext._jsc.sc()
    # the storage listing reads block updates off the listener bus
    jsc.listenerBus().waitUntilEmpty()
    return {info.id() for info in jsc.getRDDStorageInfo()}


def test_feedback_iterate_keeps_only_its_result_pinned(spark):
    df = spark.range(0, 200, numPartitions=4).select(F.col("id").alias("x"))
    before = _pinned_rdd_ids(spark)
    out = feedback_iterate(
        df, lambda s, i: s.withColumn("x", F.col("x") + 1), max_iters=8
    )
    result_rdd = out._jdf.queryExecution().analyzed().rdd().id()
    assert _pinned_rdd_ids(spark) - before == {result_rdd}
    assert out.agg(F.sum("x")).first()[0] == sum(range(200)) + 8 * 200
    session.release(out)


def test_release_rejects_a_frame_materialize_did_not_return(spark):
    pinned = session.materialize(spark.range(10).withColumn("y", F.lit(1)))
    with pytest.raises(ValueError, match="LogicalRDD"):
        session.release(pinned.select("id"))
    with pytest.raises(ValueError, match="LogicalRDD"):
        session.release(spark.range(10))
    session.release(pinned)


def test_materialize_tags_its_jobs_with_the_caller(spark, monkeypatch):
    sc = spark.sparkContext
    seen = []
    frame_cls = type(spark.range(0))
    real = frame_cls.localCheckpoint

    def spy(self, *args, **kwargs):
        seen.append(sc.getLocalProperty("spark.job.description"))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    sc.setLocalProperty("spark.job.description", "outer")
    try:
        line = sys._getframe().f_lineno + 1
        pinned = session.materialize(spark.range(3))
        # a decorator that rebinds the module global (as a tracer does)
        # is not the caller
        @functools.wraps(session.materialize)
        def wrapper(df):
            return wrapper.__wrapped__(df)

        monkeypatch.setattr(session, "materialize", wrapper)
        line2 = sys._getframe().f_lineno + 1
        pinned2 = session.materialize(spark.range(3))
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    me = f"{__name__}.test_materialize_tags_its_jobs_with_the_caller"
    assert seen == [f"{me}:{line}", f"{me}:{line2}"]
    session.release(pinned)
    session.release(pinned2)


def test_iterate_components_raise_when_the_budget_runs_out(spark):
    from wingfoil_spark.functions.dedup import dedup_components

    # a 31-node path: a label moves one hop per pass, so 20 passes cannot
    # carry node 0's label to node 30
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="max_iters=20"):
        dedup_components(pairs, strategy="iterate", max_iters=20)


#: where eager materialisation may happen outside tests: only through
#: ``session.materialize``
_SCANNED = ["wingfoil_spark", "__spark_entry__.py", "scale_check.py",
            "recall_check.py", "examples"]
_RAW_PIN = re.compile(r"\.localCheckpoint\(|\.persist\(|\.cache\(\)")


def test_no_raw_checkpoint_outside_materialize():
    helper = ast.parse((REPO / "wingfoil_spark" / "session.py").read_text())
    fn = next(n for n in helper.body
              if isinstance(n, ast.FunctionDef) and n.name == "materialize")
    allowed = range(fn.lineno, fn.end_lineno + 1)
    files = []
    for entry in _SCANNED:
        p = REPO / entry
        files += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    found = []
    for path in files:
        rel = path.relative_to(REPO).as_posix()
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if not _RAW_PIN.search(line):
                continue
            if rel == "wingfoil_spark/session.py" and no in allowed:
                continue
            found.append(f"{rel}:{no}: {line.strip()}")
    assert not found, "pin frames with session.materialize:\n" + "\n".join(found)


_EXECUTOR_LOSS = r"""
import sys, time
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession, functions as F
from wingfoil_spark.session import materialize

spark = (SparkSession.builder.master("local-cluster[2,1,1024]")
         .appName("executor_loss").config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "512m").getOrCreate())
jsc = spark.sparkContext._jsc.sc()
t0 = time.time()
while jsc.getExecutorMemoryStatus().size() < 3:  # two executors + driver
    if time.time() - t0 > 60:
        sys.exit("executors did not register")
    time.sleep(0.2)
plus_one = F.udf(lambda x: x + 1, "long")
pinned = materialize(
    spark.range(0, 4000, numPartitions=8).select(plus_one("id").alias("v"))
)
want = sum(range(1, 4001))
print("PINNED", pinned.agg(F.sum("v")).first()[0] == want, flush=True)
jsc.killAndReplaceExecutor("0")
try:
    print("READ", pinned.agg(F.sum("v")).first()[0] == want, flush=True)
except Exception as e:
    print("FAILED", "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" in str(e), flush=True)
spark.stop()
"""


def test_pinned_frame_fails_loudly_after_executor_loss(tmp_path):
    """The ``materialize`` docstring's contract: a pinned frame whose
    executor is lost fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND and
    never returns different rows. A mechanism that survives the loss
    flips the last assertion to ``READ True``."""
    spark_home = os.environ.get("SPARK_HOME", "")
    if not os.path.exists(os.path.join(spark_home, "bin", "spark-class")):
        pytest.skip("local-cluster needs $SPARK_HOME/bin/spark-class")
    script = tmp_path / "executor_loss.py"
    script.write_text(_EXECUTOR_LOSS)
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               SPARK_WORKER_DIR=str(tmp_path / "work"))
    proc = subprocess.run(
        [sys.executable, str(script), str(REPO)], env=env, cwd=tmp_path,
        capture_output=True, text=True, timeout=300,
    )
    lines = [ln for ln in proc.stdout.splitlines()
             if ln.startswith(("PINNED", "READ", "FAILED"))]
    assert lines == ["PINNED True", "FAILED True"], (
        lines, proc.stdout[-2000:], proc.stderr[-4000:]
    )
