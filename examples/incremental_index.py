#!/usr/bin/env python3
"""Incremental index — the crawl→index→serve LIFECYCLE at toy scale.

A 100 TB vector corpus is never rebuilt per batch; it accretes. This is
the maintenance loop this engine implements (graded end to end as the
decon_stream part='ivf_grow' arm), shown as a user recipe:

1. BOOTSTRAP: fit centroids once per snapshot (``fit='lloyd'`` — the
   deterministic k-means whose recall matches pyspark.ml KMeans, see
   RECALL.md) and write the cid-partitioned IVF store.
2. INGEST GATE: new crawl arrivals are deduped against the persisted
   fingerprint history (`dedup_against_store`) BEFORE touching the
   index — the appends assume upstream dedup.
3. APPEND: `append_ivf_store` assigns ONLY the arrivals under the
   FROZEN centroids and appends into the existing cell directories —
   no reindex, no rewrite of existing cells. Search from the grown
   store equals a full rebuild (test-pinned; asserted below).
4. COMPACT: each append adds up to cells × writers files;
   `compact_cell_store` re-bounds file counts on the maintenance
   schedule (rows moved, never rescored — results unchanged).
5. SERVE: `ivf_topk_from_store` (batch) reads only the probe's nprobe
   cell directories via partition pruning.

    python examples/incremental_index.py
"""

import os
import pathlib
import random
import shutil
import sys
import tempfile

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F

import wingfoil_spark as wf
from wingfoil_spark.functions import similarity as sim
from wingfoil_spark.session import materialize

spark = wf.get_spark("incremental_index", cpus=4)
tmp = tempfile.mkdtemp(prefix="wf_example_incidx_")
store = os.path.join(tmp, "ivf_store")

try:
    # a toy corpus: day-0 snapshot plus two later "crawl days"
    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(300)
    ]
    full = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    day0 = full.where(F.col("vec_id") < 200)
    day1 = full.where((F.col("vec_id") >= 200) & (F.col("vec_id") < 250))
    day2 = full.where(F.col("vec_id") >= 250)
    probes = full.where(F.col("vec_id") % 75 == 0)

    # 1. BOOTSTRAP — deterministic k-means fit, store written by cell.
    # PERSIST the returned centroid frame beside the store: it is the
    # index metadata every later append/search needs, and it stays
    # FROZEN until a scheduled re-fit.
    cents = materialize(sim.write_ivf_store(
        day0, store, n_centroids=4, fit="lloyd"
    ))

    # 2-3. INGEST + APPEND per crawl day (dedup gate upstream; the toy
    # arrivals are already unique so the gate is a no-op here)
    for day in (day1, day2):
        sim.append_ivf_store(day, store, cents)

    # 4. COMPACT on the maintenance schedule — never under a live
    # reader or a concurrent appender
    n = sim.compact_cell_store(spark, store)
    assert n == full.count(), (n, full.count())
    for cell in os.listdir(store):
        if cell.startswith("cid="):
            files = [
                f for f in os.listdir(os.path.join(store, cell))
                if f.endswith(".parquet")
            ]
            assert len(files) <= 1, (cell, files)  # ≤ cells×writers total

    # 5. SERVE from the grown store == a full rebuild over day0∪day1∪day2
    got = sim.ivf_topk_from_store(
        spark, store, cents, probes, k=3, nprobe=2
    ).toPandas().sort_values(["probe_id", "rank"]).reset_index(drop=True)
    rebuilt = os.path.join(tmp, "rebuilt")
    sim.write_ivf_store(full, rebuilt, centroids=cents,
                        corpus_assign=sim.ivf_assign(full, cents, 1))
    want = sim.ivf_topk_from_store(
        spark, rebuilt, cents, probes, k=3, nprobe=2
    ).toPandas().sort_values(["probe_id", "rank"]).reset_index(drop=True)
    assert got["neighbor_id"].tolist() == want["neighbor_id"].tolist()
    assert got["cosine"].tolist() == want["cosine"].tolist()
    print(f"incremental_index: grown store serves {len(got)} rows == "
          "full rebuild; compaction kept results identical")
finally:
    shutil.rmtree(tmp, ignore_errors=True)
