"""Restarting a packed keyed-state query from its file checkpoint.

The realtime binding keeps one state row per key bucket, ``B`` =
``spark.sql.shuffle.partitions`` when the query is built
(``KeyedStateOp.run_stream``). A query stopped mid-stream and restarted
from its checkpoint must emit the rows of an uninterrupted run; a restart
built under another ``spark.sql.shuffle.partitions`` must fail naming
both bucket counts instead of losing state. ``get_spark`` sessions write
the checkpoint through Hadoop ``FileSystem`` (``session`` module
docstring), so the restart also covers that manager.

Runs in a subprocess: it needs its own small SparkContext, one per
process, independent of the suite's session."""

import json
import os
import subprocess
import sys

import pytest

from wingfoil_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r'''
import json, os, sys, time
import numpy as np
import pandas as pd
from wingfoil_spark.session import get_spark
from wingfoil_spark.stream import Stream

work = sys.argv[1]
spark = get_spark("wf_restart", cpus=2)
spark.conf.set("spark.sql.shuffle.partitions", "3")
SCHEMA = "k long, ts long, seq long, v double"

rng = np.random.default_rng(5)
n = 400
pdf = pd.DataFrame({
    "k": rng.integers(0, 25, n), "ts": np.sort(rng.integers(0, 2_000, n)),
    "seq": np.arange(n), "v": np.round(rng.normal(size=n) * 50, 2),
})
# four files split at instant boundaries, and a fifth holding every key
cuts = [int(pdf["ts"].searchsorted(c)) for c in (500, 1000, 1500)]
parts = [pdf.iloc[a:b] for a, b in zip([0, *cuts], [*cuts, n])]
parts.append(pd.DataFrame({"k": np.arange(25), "ts": 5_000, "seq": n + np.arange(25),
                           "v": 1.0}))


def drop(src, i):
    path = os.path.join(src, f"part-{i:03d}.parquet")
    parts[i].to_parquet(path, index=False)
    os.utime(path, (time.time() + i, time.time() + i))


def run(src, ckpt):
    rows = []
    sdf = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    out = Stream(sdf, ts="ts", seq="seq", keys=("k",)).stat(
        "v", "mean", ("range", 300), out="m").df
    q = (out.writeStream.foreachBatch(lambda df, _: rows.append(df.toPandas()))
         .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
    try:
        q.awaitTermination(300)
        return pd.concat(rows, ignore_index=True) if rows else None, None
    except Exception as e:
        return None, str(e)


def key(df):
    return sorted(map(tuple, df[["k", "ts", "seq", "m"]].itertuples(index=False)))


src_a, src_b = os.path.join(work, "a"), os.path.join(work, "b")
os.makedirs(src_a)
os.makedirs(src_b)
for i in range(4):
    drop(src_a, i)
whole, _ = run(src_a, os.path.join(work, "ckpt_a"))

ckpt_b = os.path.join(work, "ckpt_b")
for i in range(2):
    drop(src_b, i)
first, _ = run(src_b, ckpt_b)          # stops after two of four files
for i in range(2, 4):
    drop(src_b, i)
second, _ = run(src_b, ckpt_b)         # resumes from the checkpoint

drop(src_b, 4)
spark.conf.set("spark.sql.shuffle.partitions", "5")
third, err = run(src_b, ckpt_b)

print("RESULT " + json.dumps({
    "whole": len(whole), "first": len(first), "second": len(second),
    "restart_equal": key(whole) == key(pd.concat([first, second])),
    "mismatch_rows": None if third is None else len(third),
    "mismatch_error": err,
    "manager": spark.conf.get("spark.sql.streaming.checkpointFileManagerClass"),
}))
'''


def test_restart_from_checkpoint_and_bucket_count_mismatch(tmp_path):
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g",
               PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]))
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(tmp_path)], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=900,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    if not lines:
        pytest.fail(f"restart script failed (rc {proc.returncode}):\n"
                    f"{proc.stdout[-3000:]}\n{proc.stderr[-5000:]}")
    res = json.loads(lines[-1][len("RESULT "):])
    assert res["whole"] == 400
    assert res["first"] > 0 and res["second"] > 0
    assert res["first"] + res["second"] == res["whole"]
    assert res["restart_equal"]
    # restarted under 5 shuffle partitions over a checkpoint written with 3
    assert res["mismatch_rows"] is None
    err = res["mismatch_error"]
    assert err is not None
    assert "checkpoint holds keyed state in 3 buckets" in err
    assert "spark.sql.shuffle.partitions=5" in err
    # the checkpoint was written and resumed through Hadoop FileSystem
    assert res["manager"] == session._FS_CHECKPOINT_MANAGER


def test_get_spark_writes_checkpoints_through_filesystem(spark):
    """``get_spark`` sessions (local[N]) write streaming checkpoints
    through Hadoop ``FileSystem``, whose local rename spawns no process;
    a driver-provided session keeps its own manager, so the setting is
    not a runtime conf that ``configure_session`` applies."""
    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert spark.conf.get(key) == session._FS_CHECKPOINT_MANAGER
    assert key not in session._RUNTIME_CONFS
