"""IVF-flat ANN invariants: exhaustive nprobe equals brute force; bucketed
search returns valid cosines and bounded candidate sets."""

import pyspark.sql.functions as F
import pytest

from wingfoil_spark.functions import similarity as sim
from wingfoil_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_ivf_exhaustive_equals_bruteforce(spark, emb):
    probes = emb.where(F.col("vec_id") % 100 == 0)
    exact = sim.cosine_topk(emb, probes, k=5).toPandas()
    # nprobe == n_centroids → every bucket searched → identical result set
    # (holds for ANY centroid fit; take keeps the test job-free and fast)
    ivf = sim.ivf_topk(emb, probes, k=5, n_centroids=8, nprobe=8, fit="take").toPandas()
    key = ["probe_id", "rank"]
    e = exact.sort_values(key).reset_index(drop=True)
    i = ivf.sort_values(key).reset_index(drop=True)
    assert len(e) == len(i)
    assert (e["neighbor_id"].to_numpy() == i["neighbor_id"].to_numpy()).all()
    assert (e["cosine"].to_numpy() == i["cosine"].to_numpy()).all()


def test_ivf_partial_probe_recall(spark, emb):
    probes = emb.where(F.col("vec_id") % 100 == 0)
    exact = sim.cosine_topk(emb, probes, k=5).toPandas()
    ivf = sim.ivf_topk(emb, probes, k=5, n_centroids=16, nprobe=6, fit="take").toPandas()
    truth = set(zip(exact.probe_id, exact.neighbor_id))
    got = set(zip(ivf.probe_id, ivf.neighbor_id))
    recall = len(truth & got) / len(truth)
    assert recall > 0.2   # approximate path finds a real fraction
    # every reported pair is a genuine corpus pair with a sane cosine
    assert ((ivf.cosine <= 1.000001) & (ivf.cosine >= -1.000001)).all()


def _recall(exact, approx) -> float:
    truth = set(zip(exact.probe_id, exact.neighbor_id))
    got = set(zip(approx.probe_id, approx.neighbor_id))
    return len(truth & got) / len(truth)


def test_kmeans_centroids_beat_take_recall(spark, emb):
    """VERDICT r2 item 7: seeded KMeans is the documented production
    default BECAUSE its buckets tile the data — at the same nprobe its
    recall must be >= the take-mode (arbitrary low-id sample) recall."""
    probes = emb.where(F.col("vec_id") % 100 == 0)
    exact = sim.cosine_topk(emb, probes, k=5).toPandas()
    take = sim.ivf_topk(emb, probes, k=5, n_centroids=16, nprobe=4, fit="take").toPandas()
    km = sim.ivf_topk(emb, probes, k=5, n_centroids=16, nprobe=4).toPandas()  # default=kmeans
    r_take, r_km = _recall(exact, take), _recall(exact, km)
    print(f"\nIVF recall @nprobe=4/16: take={r_take:.3f} kmeans={r_km:.3f}")
    assert r_km >= r_take, f"kmeans recall {r_km:.3f} < take recall {r_take:.3f}"
    assert r_km > 0.3  # and it's a real recall, not vacuous


# --------------------------------------------------- product quantization


def test_pq_retrieves_planted_near_dups(spark):
    """PQ-ADC (Jégou et al. 2011) is the memory-scale tier: m smallint
    codes per vector instead of floats. On planted near-dups
    (cosine ≈ 0.98) every probe must surface its twin in the top-5 under
    BOTH codebook fits; codes are m shorts (16-32x smaller than
    float32); results are run-deterministic."""
    import numpy as np
    import pandas as pd

    from wingfoil_spark.functions import similarity as sim

    rng = np.random.default_rng(11)
    base = rng.normal(size=(200, 64))
    rows = [(i, base[i].tolist()) for i in range(200)]
    for j in range(20):
        rows.append((1000 + j, (base[j] + 0.12 * rng.normal(size=64)).tolist()))
    emb = spark.createDataFrame(pd.DataFrame(
        {"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]}
    ))
    probes = emb.where(F.col("vec_id") >= 1000)
    for fit in ("take", "kmeans"):
        books = sim.pq_train(emb, m=8, k=16, fit=fit)
        assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8
        codes = sim.pq_encode(emb, books)
        code0 = codes.where("vec_id = 0").first()["pq_code"]
        assert len(code0) == 8, "m codes per vector (the compression)"
        out = sim.pq_topk(codes, probes, books, k=5).toPandas()
        hits = sum(
            1 for j in range(20)
            if j in set(out[out.probe_id == 1000 + j]["neighbor_id"])
        )
        assert hits == 20, f"fit={fit}: planted twin missed ({hits}/20)"
        again = sim.pq_topk(codes, probes, books, k=5).toPandas()
        a = out.sort_values(["probe_id", "rank"]).reset_index(drop=True)
        b = again.sort_values(["probe_id", "rank"]).reset_index(drop=True)
        assert a["neighbor_id"].tolist() == b["neighbor_id"].tolist()


def test_pq_guards(spark):
    """Wiring errors: non-divisible dim, unknown fit, empty corpus."""
    import pandas as pd
    import pytest

    from wingfoil_spark.functions import similarity as sim

    emb = spark.createDataFrame(pd.DataFrame(
        {"vec_id": [1], "embedding": [[1.0] * 62]}
    ))
    with pytest.raises(ValueError, match="not divisible"):
        sim.pq_train(emb, m=8, k=4)
    ok = spark.createDataFrame(pd.DataFrame(
        {"vec_id": [1], "embedding": [[1.0] * 64]}
    ))
    with pytest.raises(ValueError, match="unknown pq fit"):
        sim.pq_train(ok, m=8, k=4, fit="magic")
    with pytest.raises(ValueError, match="empty corpus"):
        sim.pq_train(ok.where("vec_id < 0"), m=8, k=4)


def test_ivfpq_composition(spark):
    """IVF bounds WHICH rows are scanned, PQ bounds WHAT a row costs:
    the composed tier still finds every planted near-dup twin at top-5
    (nprobe=4 of 8 cells), never plans a cartesian, and its candidates
    are a subset of the probed cells' members."""
    import numpy as np
    import pandas as pd

    from wingfoil_spark.functions import similarity as sim

    rng = np.random.default_rng(23)
    base = rng.normal(size=(240, 64))
    rows = [(i, base[i].tolist()) for i in range(240)]
    for j in range(16):
        rows.append((1000 + j, (base[j] + 0.1 * rng.normal(size=64)).tolist()))
    emb = spark.createDataFrame(pd.DataFrame(
        {"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]}
    ))
    probes = emb.where(F.col("vec_id") >= 1000)
    books = sim.pq_train(emb, m=8, k=16)
    out = sim.ivfpq_topk(emb, probes, books, k=5, n_centroids=8, nprobe=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    got = out.toPandas()
    hits = sum(
        1 for j in range(16)
        if j in set(got[got.probe_id == 1000 + j]["neighbor_id"])
    )
    # the twin lands in the probe's own cell with overwhelming odds at
    # nprobe=4/8; demand near-total recall (allow one cell-boundary miss)
    assert hits >= 15, f"planted twin missed too often ({hits}/16)"


def test_pq_topk_batch_size_invariant(spark):
    """The round-5 ADVICE-high reproduction: with tiny Arrow batches a
    per-batch groupby top-k emits duplicate ranks and >k rows whenever a
    probe's candidates span batches. The running per-probe merge must be
    batch-size-INVARIANT: k=5 → exactly 5 rows per probe, ranks 1..5,
    bitwise-equal to the default-batch result."""
    import numpy as np
    import pandas as pd

    from wingfoil_spark.functions import similarity as sim

    rng = np.random.default_rng(7)
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": list(range(120)),
        "embedding": [rng.normal(size=32).tolist() for _ in range(120)],
    }))
    probes = emb.where(F.col("vec_id") < 3)
    books = sim.pq_train(emb, m=4, k=8)
    codes = sim.pq_encode(emb, books)
    key = ["probe_id", "rank"]
    want = (
        sim.pq_topk(codes, probes, books, k=5)
        .toPandas().sort_values(key).reset_index(drop=True)
    )
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "10")
        got = (
            sim.pq_topk(codes, probes, books, k=5)
            .toPandas().sort_values(key).reset_index(drop=True)
        )
        got_ivf = (
            sim.ivfpq_topk(emb, probes, books, k=5, n_centroids=4, nprobe=4)
            .toPandas().sort_values(key).reset_index(drop=True)
        )
    finally:
        spark.conf.set(conf, old)
    assert len(want) == 15, want
    assert len(got) == 15, got
    for pdf in (want, got, got_ivf):
        for _, grp in pdf.groupby("probe_id"):
            assert sorted(grp["rank"].tolist()) == [1, 2, 3, 4, 5]
            assert grp["neighbor_id"].is_unique
    assert got["neighbor_id"].tolist() == want["neighbor_id"].tolist()
    assert got["adc_dist"].tolist() == want["adc_dist"].tolist()


def test_pq_topk_string_ids(spark):
    """Output id columns derive their type from the input schema — string
    (UUID-style) ids must work end to end (round-5 ADVICE-low)."""
    import numpy as np
    import pandas as pd

    from wingfoil_spark.functions import similarity as sim

    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": [f"doc-{i:04d}" for i in range(60)],
        "embedding": [rng.normal(size=32).tolist() for _ in range(60)],
    }))
    probes = emb.limit(2)
    books = sim.pq_train(emb, m=4, k=8)
    codes = sim.pq_encode(emb, books)
    out = sim.pq_topk(codes, probes, books, k=3)
    assert dict(out.dtypes)["probe_id"] == "string"
    assert dict(out.dtypes)["neighbor_id"] == "string"
    pdf = out.toPandas()
    assert len(pdf) == 6
    assert all(isinstance(v, str) for v in pdf["neighbor_id"])
    out2 = sim.ivfpq_topk(emb, probes, books, k=3, n_centroids=4, nprobe=4)
    assert dict(out2.dtypes)["probe_id"] == "string"
    assert len(out2.toPandas()) == 6


def test_ivfpq_shared_codes_equals_internal_encode(spark):
    """ivfpq_topk(corpus_codes=...) — the persisted-code-table path —
    must return exactly what the internal-encode path returns."""
    import random

    from wingfoil_spark.functions import similarity as sim

    rng = random.Random(11)
    rows = [(i, [float(rng.uniform(-1, 1)) for _ in range(16)]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = df.where(F.col("vec_id") % 20 == 0)
    books = sim.pq_train(df, m=4, k=8, fit="take")
    a = sorted(
        (r.probe_id, r.neighbor_id, r.adc_dist, r.rank)
        for r in sim.ivfpq_topk(df, probes, books, k=3, n_centroids=4,
                                nprobe=2, fit="take").collect()
    )
    codes = sim.pq_encode(df, books).select("vec_id", "pq_code")
    b = sorted(
        (r.probe_id, r.neighbor_id, r.adc_dist, r.rank)
        for r in sim.ivfpq_topk(df, probes, books, k=3, n_centroids=4,
                                nprobe=2, fit="take",
                                corpus_codes=codes).collect()
    )
    assert a == b and a


def test_shared_assign_equals_internal_assign(spark):
    """ivf_topk / ivfpq_topk fed a shared centroids= + corpus_assign=
    (the checkpointed semdedup_assign frame, the graded ann query's r9
    layout) must return exactly what the internal fit+assign path
    returns — the sharing is a scan-count optimization, never a
    semantics change. The __nrm column of the assign frame is reused as
    the corpus norm, so this also pins that with_norm and the assign
    norm are the same fold."""
    import random

    from wingfoil_spark.functions import selection as sel

    rng = random.Random(23)
    rows = [(i, [float(rng.uniform(-1, 1)) for _ in range(16)]) for i in range(150)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = df.where(F.col("vec_id") % 25 == 0)
    cents = sim.ivf_centroids(df, 4, fit="take")
    asg = sel.semdedup_assign(df, n_clusters=4, fit="take", centroids=cents)

    a = sorted(
        (r.probe_id, r.neighbor_id, r.cosine, r.rank)
        for r in sim.ivf_topk(df, probes, k=3, n_centroids=4, nprobe=2,
                              fit="take").collect()
    )
    b = sorted(
        (r.probe_id, r.neighbor_id, r.cosine, r.rank)
        for r in sim.ivf_topk(df, probes, k=3, n_centroids=4, nprobe=2,
                              fit="take", centroids=cents,
                              corpus_assign=asg).collect()
    )
    assert a == b and a

    books = sim.pq_train(df, m=4, k=8, fit="take")
    codes = sim.pq_encode(df, books).select("vec_id", "pq_code")
    c = sorted(
        (r.probe_id, r.neighbor_id, r.adc_dist, r.rank)
        for r in sim.ivfpq_topk(df, probes, books, k=3, n_centroids=4,
                                nprobe=2, fit="take",
                                corpus_codes=codes).collect()
    )
    d = sorted(
        (r.probe_id, r.neighbor_id, r.adc_dist, r.rank)
        for r in sim.ivfpq_topk(df, probes, books, k=3, n_centroids=4,
                                nprobe=2, fit="take", corpus_codes=codes,
                                centroids=cents, corpus_assign=asg).collect()
    )
    assert c == d and c
    # assign-without-codes: the encode runs over the shared assignment
    e2 = sorted(
        (r.probe_id, r.neighbor_id, r.adc_dist, r.rank)
        for r in sim.ivfpq_topk(df, probes, books, k=3, n_centroids=4,
                                nprobe=2, fit="take",
                                centroids=cents, corpus_assign=asg).collect()
    )
    assert c == e2
    # ADVICE r9: an assignment without its producing centroids would
    # probe against a silently re-fit frame — both entry points refuse
    import pytest as _pytest
    with _pytest.raises(ValueError, match="corpus_assign.*centroids"):
        sim.ivf_topk(df, probes, k=3, n_centroids=4, nprobe=2,
                     fit="take", corpus_assign=asg)
    with _pytest.raises(ValueError, match="corpus_assign.*centroids"):
        sim.ivfpq_topk(df, probes, books, k=3, n_centroids=4, nprobe=2,
                       fit="take", corpus_assign=asg)


def test_semdedup_prune_rejects_projected_frame(spark):
    """semdedup_prune validates the assign contract columns up front
    (ADVICE r8): a frame that dropped __nrm/centroid_sim gets a named
    error, not an opaque resolution failure."""
    import random

    import pytest as _pytest

    from wingfoil_spark.functions import selection as sel

    rng = random.Random(5)
    rows = [(i, [float(rng.uniform(-1, 1)) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    asg = sel.semdedup_assign(df, n_clusters=2, fit="take")
    with _pytest.raises(ValueError, match="__nrm"):
        sel.semdedup_prune(asg.drop("__nrm"), threshold=0.9)


def test_ivf_store_partition_pruning(spark, emb, tmp_path):
    """The persisted 100 TB layout: write_ivf_store partitions the corpus
    by cid; ivf_topk_from_store's cell restriction must reach the SCAN as
    dynamic partition pruning (the probe side is tiny and broadcast, cid
    is the partition column) — per-query IO is nprobe cells, never the
    corpus. Results must equal the in-memory ivf_topk exactly."""
    path = str(tmp_path / "ivf_store")
    cents = sim.write_ivf_store(emb, path, n_centroids=8, fit="take")
    probes = emb.where(F.col("vec_id") % 100 == 0)

    from_store = sim.ivf_topk_from_store(
        spark, path, cents, probes, k=3, nprobe=2
    )
    in_memory = sim.ivf_topk(
        emb, probes, k=3, n_centroids=8, nprobe=2, fit="take"
    )
    a = sorted(map(tuple, from_store.collect()))
    b = sorted(map(tuple, in_memory.collect()))
    assert a == b and a

    plan = from_store._jdf.queryExecution().executedPlan().toString()
    # the partition-column restriction must be a runtime directory skip,
    # not a post-scan filter: Spark marks it dynamicpruning in the scan's
    # PartitionFilters
    assert "dynamicpruning" in plan.lower(), plan


def test_ivfpq_store_floats_dropped_and_pruned(spark, emb, tmp_path):
    """The persisted IVF-PQ layout: codes only (no float column exists in
    the store), cell restriction reaches the scan as dynamic partition
    pruning, and results equal the in-memory ivfpq_topk exactly."""
    path = str(tmp_path / "ivfpq_store")
    books = sim.pq_train(emb, m=8, k=16, fit="take")
    cents = sim.write_ivfpq_store(emb, path, books, n_centroids=8, fit="take")
    store_schema = spark.read.parquet(path).schema.fieldNames()
    assert "embedding" not in store_schema, store_schema  # floats dropped
    probes = emb.where(F.col("vec_id") % 100 == 0)

    from_store = sim.ivfpq_topk_from_store(
        spark, path, cents, books, probes, k=3, nprobe=2
    )
    in_memory = sim.ivfpq_topk(
        emb, probes, books, k=3, n_centroids=8, nprobe=2, fit="take"
    )
    a = sorted(map(tuple, from_store.collect()))
    b = sorted(map(tuple, in_memory.collect()))
    assert a == b and a

    plan = from_store._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_ivf_store_shared_write_equals_internal(spark, emb, tmp_path):
    """r10: write_ivf_store / write_ivfpq_store fed the shared
    centroids=/corpus_assign=/corpus_codes= frames (the graded ann
    union's checkpointed layout — zero extra corpus scans at write time)
    must produce stores whose searches equal the internal-fit write
    path exactly, and the hook contract (assignment requires its
    producing centroids) must be enforced."""
    import pytest as _pytest

    from wingfoil_spark.functions import selection as sel

    probes = emb.where(F.col("vec_id") % 100 == 0)
    cents = sim.ivf_centroids(emb, 8, fit="take").localCheckpoint(eager=True)
    asg = sel.semdedup_assign(
        emb, n_clusters=8, fit="take", centroids=cents
    ).localCheckpoint(eager=True)

    p_int = str(tmp_path / "ivf_internal")
    p_sh = str(tmp_path / "ivf_shared")
    sim.write_ivf_store(emb, p_int, n_centroids=8, fit="take")
    sim.write_ivf_store(emb, p_sh, centroids=cents, corpus_assign=asg)
    a = sorted(map(tuple, sim.ivf_topk_from_store(
        spark, p_int, cents, probes, k=3, nprobe=2).collect()))
    b = sorted(map(tuple, sim.ivf_topk_from_store(
        spark, p_sh, cents, probes, k=3, nprobe=2).collect()))
    assert a == b and a
    # the shared store carries the assignment's __nrm so readers skip
    # the norm recompute — part of the layout, assert it persisted
    assert "__nrm" in spark.read.parquet(p_sh).schema.fieldNames()

    books = sim.pq_train(emb, m=8, k=16, fit="take")
    codes = sim.pq_encode(emb, books).select("vec_id", "pq_code")
    q_int = str(tmp_path / "ivfpq_internal")
    q_sh = str(tmp_path / "ivfpq_shared")
    sim.write_ivfpq_store(emb, q_int, books, n_centroids=8, fit="take")
    sim.write_ivfpq_store(
        emb, q_sh, books, centroids=cents, corpus_assign=asg,
        corpus_codes=codes,
    )
    c = sorted(map(tuple, sim.ivfpq_topk_from_store(
        spark, q_int, cents, books, probes, k=3, nprobe=2).collect()))
    d = sorted(map(tuple, sim.ivfpq_topk_from_store(
        spark, q_sh, cents, books, probes, k=3, nprobe=2).collect()))
    assert c == d and c

    with _pytest.raises(ValueError, match="corpus_assign.*centroids"):
        sim.write_ivf_store(emb, p_sh, corpus_assign=asg)
    with _pytest.raises(ValueError, match="corpus_assign.*centroids"):
        sim.write_ivfpq_store(emb, q_sh, books, corpus_assign=asg)

    # writers_per_cell spreads a cell across N tasks (the 100 TB
    # straggler guard) without changing results, with file count bounded
    # by cells x N
    import glob as _glob
    p_w = str(tmp_path / "ivf_salted")
    sim.write_ivf_store(emb, p_w, centroids=cents, corpus_assign=asg,
                        writers_per_cell=3)
    e2 = sorted(map(tuple, sim.ivf_topk_from_store(
        spark, p_w, cents, probes, k=3, nprobe=2).collect()))
    assert e2 == a
    for cell_dir in _glob.glob(p_w + "/cid=*"):
        n_files = len(_glob.glob(cell_dir + "/*.parquet"))
        assert 1 <= n_files <= 3, (cell_dir, n_files)


def test_recall_at_k(spark):
    """recall_at_k counts exact neighbors the approximate tier recovered,
    per probe, including probes it missed entirely."""
    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1), (2, 21, 2), (3, 30, 1)],
        "probe_id long, neighbor_id long, rank long",
    )
    approx = spark.createDataFrame(
        # probe 1: both right; probe 2: one right one wrong; probe 3: absent
        [(1, 10, 1), (1, 11, 2), (2, 21, 1), (2, 99, 2)],
        "probe_id long, neighbor_id long, rank long",
    )
    out = {r.probe_id: r for r in sim.recall_at_k(exact, approx).collect()}
    assert (out[1].n_exact, out[1].n_hit, out[1].recall) == (2, 2, 1.0)
    assert (out[2].n_exact, out[2].n_hit, out[2].recall) == (2, 1, 0.5)
    assert (out[3].n_exact, out[3].n_hit, out[3].recall) == (1, 0, 0.0)
    # k= trims BOTH sides by rank before comparing
    at1 = {r.probe_id: r for r in sim.recall_at_k(exact, approx, k=1).collect()}
    assert at1[1].recall == 1.0 and at1[2].recall == 0.0
    # real tiers: IVF nprobe=all == exact -> recall 1.0 everywhere
    import random
    rng = random.Random(11)
    rows = [(i, [float(rng.uniform(-1, 1)) for _ in range(8)]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = df.where(F.col("vec_id") % 30 == 0)
    ex = sim.cosine_topk(df, probes, k=3)
    iv = sim.ivf_topk(df, probes, k=3, n_centroids=4, nprobe=4, fit="take")
    r = sim.recall_at_k(ex, iv).agg(F.avg("recall").alias("m")).collect()[0].m
    assert r == 1.0


def test_recall_at_k_duplicate_rows_do_not_inflate(spark):
    """Join multiplicity guard: the same (probe, neighbor) at two ranks
    (a union of tiers, an un-deduped candidate frame) must not produce
    n_hit > n_exact or recall > 1."""
    exact = spark.createDataFrame(
        [(1, 10, 1)], "probe_id long, neighbor_id long, rank long")
    approx = spark.createDataFrame(
        [(1, 10, 1), (1, 10, 2)], "probe_id long, neighbor_id long, rank long")
    r = sim.recall_at_k(exact, approx).collect()[0]
    assert (r.n_exact, r.n_hit, r.recall) == (1, 1, 1.0)


def test_append_ivf_store_equals_rebuild(spark, emb, tmp_path):
    """r11: incremental growth — append new vectors under the FROZEN
    centroids, then from-store search must equal a full rebuild over the
    union corpus with the same centroids, row for row."""
    old = emb.where(F.col("vec_id") % 3 != 0)
    new = emb.where(F.col("vec_id") % 3 == 0)
    probes = emb.where(F.col("vec_id") % 100 == 0)
    path = str(tmp_path / "ivf_inc")
    cents = sim.write_ivf_store(old, path, n_centroids=8, fit="take")
    sim.append_ivf_store(new, path, cents)
    got = sim.ivf_topk_from_store(
        spark, path, cents, probes, k=5, nprobe=3
    ).toPandas()
    rebuilt_path = str(tmp_path / "ivf_full")
    sim.write_ivf_store(
        emb, rebuilt_path, centroids=cents,
        corpus_assign=sim.ivf_assign(emb, cents, 1),
    )
    want = sim.ivf_topk_from_store(
        spark, rebuilt_path, cents, probes, k=5, nprobe=3
    ).toPandas()
    key = ["probe_id", "rank"]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    assert len(g) == len(w) and len(g) > 0
    assert (g["neighbor_id"].to_numpy() == w["neighbor_id"].to_numpy()).all()
    assert (g["cosine"].to_numpy() == w["cosine"].to_numpy()).all()
    # appended rows landed in the existing cid directories (no new layout)
    import os
    cells = sorted(
        d for d in os.listdir(path) if d.startswith("cid=")
    )
    assert cells == sorted(
        d for d in os.listdir(rebuilt_path) if d.startswith("cid=")
    )


def test_append_ivf_store_nrm_schema_alignment(spark, emb, tmp_path):
    """A store written WITH the optional __nrm column must receive
    appended rows that carry it too (mixed layouts would feed NULL norms
    to readers that reuse the stored norm)."""
    old = emb.where(F.col("vec_id") % 3 != 0)
    new = emb.where(F.col("vec_id") % 3 == 0)
    path = str(tmp_path / "ivf_nrm")
    cents = sim.ivf_centroids(old, 8, fit="take").localCheckpoint(eager=True)
    asg = sim.with_norm(sim.ivf_assign(old, cents, 1), "embedding", "__nrm")
    sim.write_ivf_store(old, path, centroids=cents, corpus_assign=asg)
    store_cols = set(spark.read.parquet(path).columns)
    assert "__nrm" in store_cols
    sim.append_ivf_store(new, path, cents)
    appended = spark.read.parquet(path)
    assert appended.where(F.col("__nrm").isNull()).count() == 0
    assert appended.count() == emb.count()


def test_append_ivfpq_store_equals_rebuild(spark, emb, tmp_path):
    """Same incremental contract for the codes-only layout: append under
    frozen centroids AND codebooks == full rebuild, through the ADC
    from-store search."""
    old = emb.where(F.col("vec_id") % 3 != 0)
    new = emb.where(F.col("vec_id") % 3 == 0)
    probes = emb.where(F.col("vec_id") % 100 == 0)
    books = sim.pq_train(emb, m=8, k=16, fit="take")
    path = str(tmp_path / "ivfpq_inc")
    cents = sim.write_ivfpq_store(old, path, books, n_centroids=8, fit="take")
    sim.append_ivfpq_store(new, path, cents, books)
    got = sim.ivfpq_topk_from_store(
        spark, path, cents, books, probes, k=5, nprobe=3
    ).toPandas()
    rebuilt_path = str(tmp_path / "ivfpq_full")
    sim.write_ivfpq_store(emb, rebuilt_path, books, centroids=cents,
                          corpus_assign=sim.ivf_assign(emb, cents, 1))
    want = sim.ivfpq_topk_from_store(
        spark, rebuilt_path, cents, books, probes, k=5, nprobe=3
    ).toPandas()
    key = ["probe_id", "rank"]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    assert len(g) == len(w) and len(g) > 0
    assert (g["neighbor_id"].to_numpy() == w["neighbor_id"].to_numpy()).all()
    assert (g["adc_dist"].to_numpy() == w["adc_dist"].to_numpy()).all()


def _fold(a, b):
    """Left-to-right double fold — the canonical dot order."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _ref_assign(rows, cents, nprobe):
    """Plain-Python IVF assignment: cosine of every (nonzero) vector
    against every nonzero-norm centroid, sorted by (-sim, cid), first
    ``nprobe`` kept. Returns sorted (vec_id, cid) pairs."""
    import math

    cs = [(int(c["cid"]), c["cvec"], math.sqrt(_fold(c["cvec"], c["cvec"])))
          for c in cents]
    out = []
    for r in rows:
        e = r["embedding"]
        if e is None:
            continue
        n = math.sqrt(_fold(e, e))
        if not n > 0:
            continue
        ranked = sorted((-(_fold(e, cv) / (n * cn)), cid)
                        for cid, cv, cn in cs if cn > 0)
        out += [(int(r["vec_id"]), cid) for _, cid in ranked[:nprobe]]
    return sorted(out)


def _assigned(df, cents, nprobe):
    return sorted(
        (int(r[0]), int(r[1])) for r in
        sim.ivf_assign(df, cents, nprobe).select("vec_id", "cid").collect()
    )


def test_ivf_assign_matches_reference(spark, emb):
    """The row-local assignment equals a plain-Python reference (double
    fold, (-sim, cid) order) at nprobe=1 and nprobe=4, and its plan
    carries no window (streaming-legal)."""
    cents = sim.ivf_centroids(emb, 8, fit="take").localCheckpoint(eager=True)
    rows = emb.select("vec_id", "embedding").collect()
    crow = cents.collect()
    for nprobe in (1, 4):
        assert _assigned(emb, cents, nprobe) == \
            _ref_assign(rows, crow, nprobe), f"nprobe={nprobe}"
    plan = sim.ivf_assign(emb, cents, 4)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "Window" not in plan


def test_ivf_assign_tie_break(spark):
    """Planted centroid ties: two identical centroid vectors produce
    EQUAL similarity for every probe — the tie breaks to the lower cid,
    as in the reference, at nprobe=1, 2 and 3."""
    rows = [(0, [1.0, 0.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0, 0.0]),       # duplicate of vec 0 → dup centroid
            (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [0.6, 0.8, 0.0, 0.0]),
            (4, [0.0, 0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = sim.ivf_centroids(df, 3, fit="take").localCheckpoint(eager=True)
    # take-fit centroids = vecs 0,1,2 → cids 0 and 1 are IDENTICAL vectors
    drows, crow = df.collect(), cents.collect()
    for nprobe in (1, 2, 3):
        got = _assigned(df, cents, nprobe)
        assert got == _ref_assign(drows, crow, nprobe), f"nprobe={nprobe}"
    # and the tie really resolves to the LOWER cid at nprobe=1
    one = dict(_assigned(df, cents, 1))
    assert one[0] == 0 and one[1] == 0, one


def test_adc_duplicate_store_ids_single_rank(spark):
    """ADVICE r11 (medium): a duplicate id in an append-grown codes store
    must occupy ONE rank in every ADC consumer (pq_topk here — the shared
    _adc_topk_iter also backs ivfpq_topk_from_store, batch or streamed),
    keeping its BEST distance, so a real neighbor is not pushed out of
    the top-k. Mirrors test_ivf_topk_stream_duplicate_store_ids_match_batch."""
    import random

    rng = random.Random(23)
    rows = [(i, [float(rng.uniform(-1, 1)) for _ in range(16)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = sim.pq_train(df, m=4, k=8, fit="take")
    codes = sim.pq_encode(df, books).select("vec_id", "pq_code")
    probes = df.where(F.col("vec_id") < 2)
    clean = sim.pq_topk(codes, probes, books, k=5).toPandas()
    # duplicate EVERY corpus row (same id, same code — a re-appended batch)
    doubled = codes.unionByName(codes)
    dup = sim.pq_topk(doubled, probes, books, k=5).toPandas()
    key = ["probe_id", "rank"]
    c = clean.sort_values(key).reset_index(drop=True)
    d = dup.sort_values(key).reset_index(drop=True)
    assert len(c) == len(d) and len(c) == 2 * 5
    assert (c["neighbor_id"].to_numpy() == d["neighbor_id"].to_numpy()).all()
    assert (c["adc_dist"].to_numpy() == d["adc_dist"].to_numpy()).all()
    # per probe: 5 DISTINCT neighbors, ranks 1..5 exactly once
    for _, grp in d.groupby("probe_id"):
        assert grp["neighbor_id"].nunique() == 5
        assert sorted(grp["rank"].tolist()) == [1, 2, 3, 4, 5]
    # same id with DIFFERENT codes (a re-crawled doc re-encoded after an
    # embedding refresh): the kept row is the BEST (smallest) distance
    worst = codes.where(F.col("vec_id") == 7).withColumn(
        "pq_code", F.transform("pq_code", lambda x: F.lit(7).cast("smallint"))
    )
    mixed = codes.unionByName(worst)
    m = sim.pq_topk(mixed, probes, books, k=39).toPandas()
    base = sim.pq_topk(codes, probes, books, k=39).toPandas()
    for pid in m["probe_id"].unique():
        mm = m[(m.probe_id == pid) & (m.neighbor_id == 7)]["adc_dist"]
        bb = base[(base.probe_id == pid) & (base.neighbor_id == 7)]["adc_dist"]
        assert len(mm) == 1 and len(bb) == 1
        assert float(mm.iloc[0]) <= float(bb.iloc[0])


def test_ivf_assign_zero_norm_centroid(spark):
    """A zero-norm centroid (take-fit can select a zero vector) has no
    direction: it is excluded, matching the reference, and an all-dead
    centroid frame fails the action with a named error."""
    from pyspark.errors import SparkRuntimeException

    rows = [(0, [0.0, 0.0, 0.0, 0.0]),   # zero vector → zero-norm centroid
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [0.7, 0.7, 0.0, 0.0]),
            (4, [0.0, 0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = sim.ivf_centroids(df, 3, fit="take").localCheckpoint(eager=True)
    # take-fit picked vec 0 → cid 0 is the zero-norm centroid
    assert cents.where(F.col("cnorm") <= 0).count() == 1
    drows, crow = df.collect(), cents.collect()
    for nprobe in (1, 2):
        got = _assigned(df, cents, nprobe)
        assert got == _ref_assign(drows, crow, nprobe), f"nprobe={nprobe}"
        assert all(cid != 0 for _, cid in got)  # nobody lands in the dead cell
    # all-zero-norm centroid frame → the assignment refuses loudly
    dead = cents.where(F.col("cnorm") <= 0)
    with pytest.raises(SparkRuntimeException, match="no usable centroids"):
        sim.ivf_assign(df, dead, 1).collect()


def test_ivf_assign_build_py4j_round_trips(spark, emb, py4j_commands):
    """Every IVF/IVF-PQ search builds one or two assignments, so their
    assembly cost is pinned in py4j round trips, which host load cannot
    inflate: SQL text over internal names needs ~50 (the Column-API
    chain it replaced sent 151)."""
    cents = sim.ivf_centroids(emb, 64, fit="take").localCheckpoint(eager=True)
    sim.ivf_assign(emb, cents, 4)  # warm: the input schema is cached
    with py4j_commands() as c:
        sim.ivf_assign(emb, cents, 4)
    assert c.n <= 60, f"{c.n} py4j round trips to build ivf_assign"


def test_with_norm_and_near_dup_filter_py4j_round_trips(spark, emb, py4j_commands):
    """``with_norm`` builds as one projection of SQL text over an internal
    alias (27 round trips for the withColumn/F.sqrt/drop chain it
    replaced), and ``cosine_near_dups`` filters the norm with SQL text
    (the Column predicate sent 25 more); the build of the whole
    near-dup query, one eager checkpoint included, is pinned with it
    (472 before)."""
    from wingfoil_spark.functions import dedup

    sim.with_norm(emb, "embedding", "__nrm")  # warm: the schema is cached
    with py4j_commands() as c:
        sim.with_norm(emb, "embedding", "__nrm")
    assert c.n <= 12, f"{c.n} py4j round trips to build with_norm"
    dedup.cosine_near_dups(emb, threshold=0.5)
    with py4j_commands() as c:
        dedup.cosine_near_dups(emb, threshold=0.5)
    assert c.n <= 450, f"{c.n} py4j round trips to build cosine_near_dups"


def test_with_norm_resolves_caller_column_like_f_col(spark):
    """``with_norm`` resolves its caller's column through the Column API:
    a dotted struct field, a backticked name holding a dot and a name
    with a hyphen give the norm of the plain column; an existing ``out``
    column is replaced."""
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, None), (4, [1.0, 2.0, 2.0])],
        "id long, e array<double>",
    )
    want = {1: 5.0, 2: 0.0, 3: None, 4: 3.0}
    got = {r.id: r.n for r in sim.with_norm(df, "e", "n").collect()}
    assert got == want
    cases = [
        (df.select("id", F.struct(F.col("e").alias("v")).alias("meta")), "meta.v"),
        (df.select("id", F.col("e").alias("my.e")), "`my.e`"),
        (df.select("id", F.col("e").alias("e-1")), "e-1"),
    ]
    for frame, name in cases:
        out = sim.with_norm(frame, name, "n")
        assert out.columns == [*frame.columns, "n"], name
        assert {r.id: r.n for r in out.collect()} == want, name
    out = sim.with_norm(df.withColumn("n", F.lit("x")), "e", "n")
    assert out.columns == ["id", "e", "n"]
    assert {r.id: r.n for r in out.collect()} == want


def test_append_ivf_store_keeps_duplicate_ids(spark, emb, tmp_path):
    """An appended batch that carries one id twice, with different
    vectors, lands BOTH rows in the store (dedup is the caller's crawl
    gate, not the append's) — the row conservation refit_cell_store
    already guarantees."""
    cents = sim.ivf_centroids(emb, 4, fit="take").localCheckpoint(eager=True)
    path = str(tmp_path / "ivf_dup")
    sim.write_ivf_store(emb, path, centroids=cents,
                        corpus_assign=sim.ivf_assign(emb, cents, 1))
    v1, v2 = (r["embedding"] for r in emb.orderBy("vec_id").limit(2).collect())
    assert v1 != v2
    batch = spark.createDataFrame(
        [(7_000_000, v1, 0), (7_000_000, v2, 0)], emb.schema
    )
    sim.append_ivf_store(batch, path, cents)
    got = spark.read.parquet(path).where(F.col("vec_id") == 7_000_000) \
        .select("embedding").collect()
    assert sorted(list(r["embedding"]) for r in got) == sorted([v1, v2])
    assert spark.read.parquet(path).count() == emb.count() + 2


def test_append_ivf_store_raises_on_unreadable_existing(spark, emb, tmp_path):
    """ADVICE r11 (low): only the MISSING-path analysis failure may take
    the fresh-path branch. An existing-but-unreadable store (empty dir —
    UNABLE_TO_INFER_SCHEMA) must raise instead of silently appending
    norm-less rows into a possibly-__nrm layout."""
    from pyspark.errors import AnalysisException

    cents = sim.ivf_centroids(emb, 4, fit="take").localCheckpoint(eager=True)
    new = emb.where(F.col("vec_id") % 100 == 0)
    bad = tmp_path / "existing_unreadable"
    bad.mkdir()
    with pytest.raises(AnalysisException):
        sim.append_ivf_store(new, str(bad), cents)
    assert not any(bad.iterdir())  # nothing was appended into the dir
    # the genuinely-missing path still works as the first append
    fresh = str(tmp_path / "fresh")
    sim.append_ivf_store(new, fresh, cents)
    assert spark.read.parquet(fresh).count() == new.count()


def test_lloyd_fit_matches_sql_replay(spark, emb, sf_dir):
    """r12 (VERDICT r11 Next #2): the deterministic Lloyd fit must be
    BIT-IDENTICAL to an independent DuckDB replay of its recipe — the
    property that makes fit='lloyd' the gradeable kmeans tier. The exact
    integer mean arithmetic ((Σ of 1e-9-quantized coords / 1e9) / n,
    6dp half-up) removes every summation-order dependency. The SQL comes
    from entry._lloyd_sql_ctes — the SAME generator the graded
    decon_stream oracle interpolates (review r12: a pasted copy here
    would stay green while the graded SQL drifted), at the graded
    parameters (k=16, LLOYD_ITERS, LLOYD_SAMPLE_N)."""
    import os

    import duckdb
    import numpy as np

    import __spark_entry__ as entry

    path = os.path.join(sf_dir, "embeddings.parquet")
    k, iters = 16, sim.LLOYD_ITERS
    sql = (
        f"WITH aev AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM '{path}'),\n"
        + entry._lloyd_sql_ctes(k, iters, sim.LLOYD_SAMPLE_N, 64)
        + "\nSELECT cid, cvec FROM llcf ORDER BY cid"
    )
    want = np.array([r[1] for r in duckdb.sql(sql).fetchall()])
    got_rows = sorted(
        sim.ivf_centroids(emb, k, fit="lloyd").collect(),
        key=lambda r: r["cid"],
    )
    got = np.array([list(r["cvec"]) for r in got_rows])
    assert got.shape == want.shape == (k, 64)
    assert np.array_equal(got, want), (
        f"max diff {np.abs(got - want).max()}"
    )


def test_lloyd_recall_beats_take(spark, emb):
    """fit='lloyd' is the graded production-shape fit BECAUSE it tiles
    the data: at the same nprobe its recall must beat the take sample
    and sit at parity with pyspark.ml KMeans (RECALL.md carries the
    measured numbers)."""
    probes = emb.where(F.col("vec_id") % 50 == 0)
    exact = sim.cosine_topk(emb, probes, k=5).toPandas()
    take = sim.ivf_topk(emb, probes, k=5, n_centroids=16, nprobe=4,
                        fit="take").toPandas()
    lcents = sim.ivf_centroids(emb, 16, fit="lloyd").localCheckpoint(
        eager=True)
    lloyd = sim.ivf_topk(emb, probes, k=5, nprobe=4,
                         centroids=lcents).toPandas()
    r_take, r_lloyd = _recall(exact, take), _recall(exact, lloyd)
    print(f"\nIVF recall @nprobe=4/16: take={r_take:.3f} lloyd={r_lloyd:.3f}")
    assert r_lloyd >= r_take
    assert r_lloyd > 0.3


def _cell_files(path):
    """{cid dir -> parquet file count} of a cell store directory."""
    import os

    out = {}
    for d in os.listdir(path):
        if d.startswith("cid="):
            out[d] = len([
                f for f in os.listdir(os.path.join(path, d))
                if f.endswith(".parquet")
            ])
    return out


def test_compact_cell_store_rebounds_files_search_unchanged(
    spark, emb, tmp_path
):
    """r12 (VERDICT r11 Next #3): N appends grow per-cell file counts;
    compact_cell_store collapses them back to <= cells x writers_per_cell
    and the from-store search is unchanged row for row — for BOTH store
    layouts (float IVF and codes-only IVF-PQ)."""
    probes = emb.where(F.col("vec_id") % 100 == 0)
    slices = [emb.where(F.col("vec_id") % 4 == i) for i in range(4)]

    # float layout
    path = str(tmp_path / "ivf")
    cents = sim.write_ivf_store(slices[0], path, n_centroids=8, fit="take")
    for s in slices[1:]:
        sim.append_ivf_store(s, path, cents)
    before_files = _cell_files(path)
    assert max(before_files.values()) > 1, "appends must grow file counts"
    before = sim.ivf_topk_from_store(
        spark, path, cents, probes, k=5, nprobe=3
    ).toPandas().sort_values(["probe_id", "rank"]).reset_index(drop=True)
    n_rows = spark.read.parquet(path).count()
    assert sim.compact_cell_store(spark, path) == n_rows
    after_files = _cell_files(path)
    assert sorted(after_files) == sorted(before_files)  # same cells
    assert all(v <= 1 for v in after_files.values())
    after = sim.ivf_topk_from_store(
        spark, path, cents, probes, k=5, nprobe=3
    ).toPandas().sort_values(["probe_id", "rank"]).reset_index(drop=True)
    assert (before["neighbor_id"].to_numpy() == after["neighbor_id"].to_numpy()).all()
    assert (before["cosine"].to_numpy() == after["cosine"].to_numpy()).all()

    # codes-only layout, writers_per_cell=2
    books = sim.pq_train(emb, m=8, k=16, fit="take")
    qpath = str(tmp_path / "ivfpq")
    qcents = sim.write_ivfpq_store(
        slices[0], qpath, books, n_centroids=8, fit="take"
    )
    for s in slices[1:]:
        sim.append_ivfpq_store(s, qpath, qcents, books)
    assert max(_cell_files(qpath).values()) > 2
    qbefore = sim.ivfpq_topk_from_store(
        spark, qpath, qcents, books, probes, k=5, nprobe=3
    ).toPandas().sort_values(["probe_id", "rank"]).reset_index(drop=True)
    sim.compact_cell_store(spark, qpath, writers_per_cell=2)
    assert all(v <= 2 for v in _cell_files(qpath).values())
    qafter = sim.ivfpq_topk_from_store(
        spark, qpath, qcents, books, probes, k=5, nprobe=3
    ).toPandas().sort_values(["probe_id", "rank"]).reset_index(drop=True)
    assert (qbefore["neighbor_id"].to_numpy() == qafter["neighbor_id"].to_numpy()).all()
    assert (qbefore["adc_dist"].to_numpy() == qafter["adc_dist"].to_numpy()).all()
    # no sibling temp/old directories left behind
    leftovers = [
        p.name for p in tmp_path.iterdir() if p.name not in ("ivf", "ivfpq")
    ]
    assert leftovers == []
    # __nrm layout survives compaction untouched
    npath = str(tmp_path / "ivf_nrm")
    asg = sim.with_norm(sim.ivf_assign(emb, cents, 1), "embedding", "__nrm")
    sim.write_ivf_store(emb, npath, centroids=cents, corpus_assign=asg)
    sim.append_ivf_store(probes, npath, cents)
    sim.compact_cell_store(spark, npath)
    comp = spark.read.parquet(npath)
    assert "__nrm" in comp.columns
    assert comp.where(F.col("__nrm").isNull()).count() == 0


def test_compact_cell_store_rejects_non_cell_store(spark, emb, tmp_path):
    path = str(tmp_path / "flat")
    emb.write.parquet(path)
    with pytest.raises(ValueError, match="not a cell store"):
        sim.compact_cell_store(spark, path)


def test_lloyd_empty_cluster_keeps_previous_centroid(spark, sf_dir):
    """The empty-cluster rule on BOTH engines: vectors 0 and 1 are
    identical, so both assign to cid 0 (cosine tie -> lower cid) and
    cluster 1 is EMPTY from iteration 1 — its centroid must stay the
    (rounded) init vector through every iteration, in the numpy fit and
    in the shared SQL replay alike."""
    import os
    import tempfile

    import duckdb
    import numpy as np

    import __spark_entry__ as entry

    rows = [
        (0, [1.0, 0.0, 0.0, 0.125]),
        (1, [1.0, 0.0, 0.0, 0.125]),     # identical to vec 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [0.0, 0.9, 0.1, 0.0]),
        (5, [0.1, 0.0, 0.9, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    k, iters = 3, 2
    got_rows = sorted(
        sim.ivf_centroids(df, k, fit="lloyd", iters=iters).collect(),
        key=lambda r: r["cid"],
    )
    got = np.array([list(r["cvec"]) for r in got_rows])
    # cluster 1's init was vec 1 = [1,0,0,0.125] (6dp-exact floats):
    # empty from iteration 1 -> unchanged
    assert got[1].tolist() == [1.0, 0.0, 0.0, 0.125]
    # and the shared SQL generator reproduces the whole frame bitwise
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "v.parquet")
        df.toPandas().to_parquet(path, index=False)
        sql = (
            f"WITH aev AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM '{path}'),\n"
            + entry._lloyd_sql_ctes(k, iters, 512, 4)
            + "\nSELECT cid, cvec FROM llcf ORDER BY cid"
        )
        want = np.array([r[1] for r in duckdb.sql(sql).fetchall()])
    assert np.array_equal(got, want)


def test_lloyd_rejects_insufficient_sample(spark):
    """fit='lloyd' refuses a corpus with fewer nonzero vectors than
    n_centroids instead of fitting degenerate cells silently."""
    rows = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="nonzero"):
        sim.ivf_centroids(df, 3, fit="lloyd")  # only 2 nonzero vectors


def test_pq_topk_null_rows_do_not_abort(spark):
    """Review r12: pq_encode emits NULL codes for NULL embeddings; one
    such corpus row (or a NULL-embedding probe) must be dropped, not
    abort the whole ADC job via np.asarray(None)."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(30)]
    rows.append((98, None))   # NULL corpus embedding -> NULL code
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = sim.pq_train(df.where(F.col("embedding").isNotNull()),
                         m=4, k=8, fit="take")
    codes = sim.pq_encode(df, books).select("vec_id", "pq_code")
    assert codes.where(F.col("pq_code").isNull()).count() == 1
    probes = df.where((F.col("vec_id") < 2) | (F.col("vec_id") == 98))
    out = sim.pq_topk(codes, probes, books, k=3).toPandas()
    # both real probes served; the NULL row is neither probe nor neighbor
    assert sorted(out["probe_id"].unique()) == [0, 1]
    assert 98 not in set(out["neighbor_id"])
    assert len(out) == 6


def test_rerank_full_shortlist_full_coverage_equals_bruteforce(spark, emb):
    """r14 ivfpq_rerank_topk degrades to EXACT by construction when
    nprobe covers every cell AND the shortlist admits every candidate —
    the ADC stage then only permutes candidates the exact re-rank
    re-sorts under cosine_topk's rounding + tie rules."""
    probes = emb.where(F.col("vec_id") % 100 == 0)
    n = emb.count()
    exact = sim.cosine_topk(emb, probes, k=5).toPandas()
    rr = sim.ivfpq_rerank_topk(
        emb, probes, sim.pq_train(emb, m=8, k=16, fit="take"),
        k=5, shortlist=n, n_centroids=8, nprobe=8, fit="take",
    ).toPandas()
    key = ["probe_id", "rank"]
    e = exact.sort_values(key).reset_index(drop=True)
    r = rr.sort_values(key).reset_index(drop=True)
    assert len(e) == len(r)
    assert (e["neighbor_id"].to_numpy() == r["neighbor_id"].to_numpy()).all()
    assert (e["cosine"].to_numpy() == r["cosine"].to_numpy()).all()


def test_rerank_cosines_are_true_cosines(spark, emb):
    """Every re-ranked row's cosine must equal the exact pairwise cosine
    (the re-rank reads floats — a row carrying an ADC-derived score
    would betray a plumbing bug), and ranks are dense from 1 per probe."""
    probes = emb.where(F.col("vec_id") % 100 == 0)
    books = sim.pq_train(emb, m=8, k=16, fit="take")
    rr = sim.ivfpq_rerank_topk(
        emb, probes, books, k=5, shortlist=20, n_centroids=8, nprobe=2,
        fit="take",
    ).toPandas()
    exact_all = sim.cosine_topk(emb, probes, k=10**9).toPandas()
    truth = {(p, nb): c for p, nb, c in zip(
        exact_all.probe_id, exact_all.neighbor_id, exact_all.cosine)}
    for p, nb, c, rk in zip(rr.probe_id, rr.neighbor_id, rr.cosine, rr["rank"]):
        assert truth[(p, nb)] == c
    ranks = rr.groupby("probe_id")["rank"].apply(list)
    for rs in ranks:
        assert sorted(rs) == list(range(1, len(rs) + 1))


def test_pq_lloyd_fit_matches_sql_replay(spark, emb, sf_dir):
    """r14 (VERDICT r13 Next #3): pq_train(fit='lloyd') must be
    BIT-IDENTICAL to an independent DuckDB replay of its recipe — the
    same qualification test that made ivf fit='lloyd' the gradeable
    kmeans tier, applied to the production PQ codebooks (per-subspace
    L2 Lloyd: ordered-fold distances, exact integer means, 6dp half-up
    rounding, first-min tie-break). Graded parameters: m=8, k=64,
    PQ_LLOYD_ITERS, sample max(k*64, 1024).

    Known caveat, deliberately pinned rather than papered over: the
    INPUT normalization upstream of the fit (pq_train's
    np.linalg.norm) uses numpy's engine-chosen summation order while
    the replay folds left — bit-equal here (and the graded pscodes
    oracle has relied on the same agreement for rounds); if a future
    corpus ever diverges on a norm ulp, move pq_train's lloyd path to
    the sequential norm (the _lloyd_fit_np seq_sqnorm recipe)."""
    import os

    import duckdb
    import numpy as np

    import __spark_entry__ as entry

    path = os.path.join(sf_dir, "embeddings.parquet")
    m, k = 8, 64
    sql = (
        f"WITH aev AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM '{path}'),\n"
        + entry._pq_lloyd_sql_ctes(
            m, k, sim.PQ_LLOYD_ITERS, max(k * 64, 1024), 64
        )
        + "\nSELECT j, c, cv FROM pqlcf ORDER BY j, c"
    )
    rows = duckdb.sql(sql).fetchall()
    want = np.array(
        [r[2] for r in rows], dtype=np.float64
    ).reshape(m, k, 64 // m)
    got = np.array(sim.pq_train(emb, m=m, k=k, fit="lloyd"))
    assert got.shape == want.shape
    assert np.array_equal(got, want), (
        f"max diff {np.abs(got - want).max()}"
    )


def test_store_meta_mismatch_refused(spark, emb, tmp_path):
    """r14: serving or growing a store under centroids/codebooks other
    than the ones it was written with must FAIL LOUDLY (previously it
    silently returned wrong neighbors / split cells across two
    geometries — the exact failure the append docstring warned about)."""
    probes = emb.where(F.col("vec_id") % 100 == 0)
    path = str(tmp_path / "ivf")
    cents = sim.write_ivf_store(emb, path, n_centroids=8, fit="take")
    foreign = sim.ivf_centroids(emb, 8, fit="lloyd").localCheckpoint(
        eager=True
    )
    with pytest.raises(ValueError, match="does not match the store"):
        sim.ivf_topk_from_store(spark, path, foreign, probes, k=5, nprobe=3)
    with pytest.raises(ValueError, match="does not match the store"):
        sim.append_ivf_store(probes, path, foreign)
    # the matching frame still serves/grows
    assert sim.ivf_topk_from_store(
        spark, path, cents, probes, k=5, nprobe=3
    ).count() > 0

    qpath = str(tmp_path / "ivfpq")
    books = sim.pq_train(emb, m=8, k=16, fit="take")
    qcents = sim.write_ivfpq_store(emb, qpath, books, n_centroids=8,
                                   fit="take")
    wrong_books = sim.pq_train(emb, m=8, k=16, fit="lloyd")
    with pytest.raises(ValueError, match="codebooks do not match"):
        sim.ivfpq_topk_from_store(
            spark, qpath, qcents, wrong_books, probes, k=5, nprobe=3
        )
    with pytest.raises(ValueError, match="does not match the store"):
        sim.append_ivfpq_store(probes, qpath, foreign, books)


def test_store_meta_survives_compaction_and_absence_is_tolerated(
    spark, emb, tmp_path
):
    """The sidecar must ride through append+compact (the swap writes a
    fresh tmp dir), and a store with NO sidecar (pre-r14 / external)
    passes unchecked — the guard protects stores this library wrote."""
    import os

    path = str(tmp_path / "ivf")
    cents = sim.write_ivf_store(emb, path, n_centroids=8, fit="take")
    probes = emb.where(F.col("vec_id") % 100 == 0)
    sim.append_ivf_store(probes, path, cents)
    sim.compact_cell_store(spark, path)
    meta = sim.read_store_meta(spark, path)
    assert meta is not None and meta["layout"] == "ivf_float"
    assert meta["centroid_digest"] == sim._centroid_digest(cents)
    # remove the sidecar: a foreign frame is no longer refused (no
    # metadata to check against) — absence tolerance, not a bypass
    os.remove(os.path.join(path, sim.STORE_META_FILE))
    foreign = sim.ivf_centroids(emb, 8, fit="lloyd").localCheckpoint(
        eager=True
    )
    assert sim.ivf_topk_from_store(
        spark, path, foreign, probes, k=5, nprobe=3
    ).count() > 0


def test_pq_decode_exact_and_jvm_only(spark, emb):
    """pq_decode == the numpy reconstruction (concat of looked-up
    codebook centroids), computed JVM-side: zero Python stages in the
    plan — the property that makes a 100 TB codes-only refit a single
    columnar scan."""
    import numpy as np

    books = sim.pq_train(emb, m=8, k=16, fit="take")
    coded = (
        sim.pq_encode(emb.limit(50), books)
        .select("vec_id", "pq_code")
        .localCheckpoint(eager=True)  # sever the encode's Python stage:
        # the gate below must see the DECODE plan alone
    )
    dec = sim.pq_decode(coded, books, out="recon")
    from wingfoil_spark.plans.audit import plan_summary

    assert plan_summary(dec)["python_stages"] == 0
    B = [np.asarray(b, dtype=np.float64) for b in books]
    for r in dec.collect():
        want = np.concatenate([B[j][c] for j, c in enumerate(r["pq_code"])])
        assert np.array_equal(np.asarray(r["recon"]), want), r["vec_id"]


def test_refit_float_store_rebuild_equivalence(spark, emb, tmp_path):
    """refit_cell_store on the float layout == write_ivf_store over the
    same rows under the same fit (rebuild equivalence — the lloyd fit
    is deterministic given the contents), and the rewritten sidecar
    REFUSES the pre-refit centroid frame."""
    probes = emb.where(F.col("vec_id") % 100 == 0)
    arrivals = emb.where(F.col("vec_id") % 7 == 0)
    base_corpus = emb.where(F.col("vec_id") % 7 != 0)
    path = str(tmp_path / "ivf")
    stale = sim.write_ivf_store(base_corpus, path, n_centroids=8,
                                fit="take").localCheckpoint(eager=True)
    sim.append_ivf_store(arrivals, path, stale)
    # refit under a DIFFERENT fit and a GROWN cell count
    cents = sim.refit_cell_store(spark, path, n_centroids=12, fit="lloyd")
    # rebuild oracle: a fresh store over the union under the same fit
    path2 = str(tmp_path / "rebuild")
    cents2 = sim.write_ivf_store(emb, path2, n_centroids=12, fit="lloyd")
    assert sim._centroid_digest(cents) == sim._centroid_digest(cents2)
    got = spark.read.parquet(path).select("vec_id", "cid").toPandas()
    want = spark.read.parquet(path2).select("vec_id", "cid").toPandas()
    key = lambda d: d.sort_values("vec_id").reset_index(drop=True)
    assert key(got).equals(key(want))
    meta = sim.read_store_meta(spark, path)
    assert meta["centroid_digest"] == sim._centroid_digest(cents)
    # serving under the refit frame works; the STALE frame is refused
    assert sim.ivf_topk_from_store(
        spark, path, cents, probes, k=5, nprobe=4
    ).count() > 0
    with pytest.raises(ValueError, match="does not match the store"):
        sim.ivf_topk_from_store(spark, path, stale, probes, k=5, nprobe=4)


def test_refit_codes_store_without_floats(spark, emb, tmp_path):
    """A codes-only store refits with NO float corpus: codes ride
    through byte-identical, every row's new cid is the assignment of
    its pq_decode reconstruction under the new centroids, and the
    sidecar turnover refuses both the stale centroids and foreign
    codebooks."""
    path = str(tmp_path / "ivfpq")
    books = sim.pq_train(emb, m=8, k=16, fit="take")
    stale = sim.write_ivfpq_store(emb, path, books, n_centroids=8,
                                  fit="take").localCheckpoint(eager=True)
    before = spark.read.parquet(path).select("vec_id", "pq_code").toPandas()
    # with NO sidecar (pre-r14 / external store) and no codebooks= the
    # refit has nothing to reconstruct from — refuse loudly
    import os
    import shutil

    bare = str(tmp_path / "ivfpq_bare")
    shutil.copytree(path, bare)
    os.remove(os.path.join(bare, sim.STORE_META_FILE))
    with pytest.raises(ValueError, match="persists no codebooks"):
        sim.refit_cell_store(spark, bare, n_centroids=8, fit="lloyd")
    wrong_books = sim.pq_train(emb, m=8, k=16, fit="lloyd")
    with pytest.raises(ValueError, match="codebooks do not match"):
        sim.refit_cell_store(spark, path, n_centroids=8, fit="lloyd",
                             codebooks=wrong_books)
    cents = sim.refit_cell_store(spark, path, n_centroids=8, fit="lloyd",
                                 codebooks=books)
    store = spark.read.parquet(path).toPandas()
    key = lambda d: d.sort_values("vec_id").reset_index(drop=True)
    assert key(store)["pq_code"].map(tuple).equals(
        key(before)["pq_code"].map(tuple)
    )
    # independent assignment oracle: reconstruct → assign under cents
    recon = sim.pq_decode(
        spark.createDataFrame(before), books, out="__recon"
    )
    want = sim.ivf_assign(recon, cents, 1, "__recon").select(
        "vec_id", "cid"
    ).toPandas()
    assert key(store[["vec_id", "cid"]]).equals(key(want))
    probes = emb.where(F.col("vec_id") % 100 == 0)
    assert sim.ivfpq_topk_from_store(
        spark, path, cents, books, probes, k=5, nprobe=4
    ).count() > 0
    with pytest.raises(ValueError, match="does not match the store"):
        sim.ivfpq_topk_from_store(
            spark, path, stale, books, probes, k=5, nprobe=4
        )


def test_refit_aborts_on_droppable_rows(spark, emb, tmp_path):
    """A store containing a zero-norm vector (impossible via the
    library's own write path, possible in a hand-written store) must
    ABORT the refit before the swap — loud beats silent shrink."""
    import os

    path = str(tmp_path / "ivf")
    sim.write_ivf_store(emb.limit(200), path, n_centroids=4, fit="take")
    dim = len(emb.select("embedding").first()[0])
    # one zero-norm row matching the store schema exactly (vec_id,
    # embedding, label, cid — the library write path keeps input cols)
    bad = (
        spark.read.parquet(path)
        .limit(1)
        .withColumn(
            "vec_id",
            F.lit(999_999_999).cast(
                spark.read.parquet(path).schema["vec_id"].dataType
            ),
        )
        .withColumn(
            "embedding",
            F.array_repeat(F.lit(0.0).cast("float"), dim).cast(
                spark.read.parquet(path).schema["embedding"].dataType
            ),
        )
        .withColumn("cid", F.lit(0).cast("int"))
    )
    bad.write.mode("append").partitionBy("cid").parquet(path)
    n_before = spark.read.parquet(path).count()
    with pytest.raises(ValueError, match="would drop 1 of"):
        sim.refit_cell_store(spark, path, n_centroids=4, fit="take")
    # store untouched, tmp cleaned up
    assert spark.read.parquet(path).count() == n_before
    assert not [
        d for d in os.listdir(tmp_path) if ".refit-" in d
    ], "tmp sibling left behind"


def test_refit_auto_cell_count(spark, emb, tmp_path):
    """n_centroids='auto' sizes cells from the store's row count
    (constant-cell-size scale dial), never shrinks below the current
    cell count, and rejects junk."""
    import math

    path = str(tmp_path / "ivf")
    sim.write_ivf_store(emb, path, n_centroids=4, fit="take")
    n = spark.read.parquet(path).count()
    cents = sim.refit_cell_store(
        spark, path, n_centroids="auto", fit="take",
        target_rows_per_cell=100,
    )
    want = max(4, math.ceil(n / 100))
    assert cents.count() == want
    live_cells = spark.read.parquet(path).select("cid").distinct().count()
    assert live_cells <= want  # empty cells are legal under a take fit
    # a huge target never SHRINKS the store below its live cell count
    cents2 = sim.refit_cell_store(
        spark, path, n_centroids="auto", fit="take",
        target_rows_per_cell=10**9,
    )
    assert cents2.count() == live_cells
    with pytest.raises(ValueError, match="int or 'auto'"):
        sim.refit_cell_store(spark, path, n_centroids="four")


def test_store_self_describing(spark, emb, tmp_path):
    """r14: stores persist their own index metadata in the sidecar —
    serve/append/refit with centroids=None / codebooks=None load it
    from the store, row-identical to passing the frames explicitly;
    a metadata-less store refuses None with a clear error."""
    import os

    probes = emb.where(F.col("vec_id") % 100 == 0)
    key = ["probe_id", "rank"]

    path = str(tmp_path / "ivf")
    cents = sim.write_ivf_store(emb, path, n_centroids=8, fit="take")
    loaded = sim.load_store_centroids(spark, path)
    assert sim._centroid_digest(loaded) == sim._centroid_digest(cents)
    a = sim.ivf_topk_from_store(
        spark, path, cents, probes, k=5, nprobe=3
    ).toPandas().sort_values(key).reset_index(drop=True)
    b = sim.ivf_topk_from_store(
        spark, path, None, probes, k=5, nprobe=3
    ).toPandas().sort_values(key).reset_index(drop=True)
    assert a.equals(b)
    sim.append_ivf_store(probes, path)       # no metadata args at all
    sim.compact_cell_store(spark, path)      # sidecar (and values) ride
    assert sim.load_store_centroids(spark, path) is not None

    qpath = str(tmp_path / "ivfpq")
    books = sim.pq_train(emb, m=8, k=16, fit="take")
    qc = sim.write_ivfpq_store(emb, qpath, books, n_centroids=8,
                               fit="take")
    assert sim.load_store_codebooks(spark, qpath) == [
        [[float(x) for x in c] for c in b] for b in books
    ]
    qa = sim.ivfpq_topk_from_store(
        spark, qpath, qc, books, probes, k=5, nprobe=3
    ).toPandas().sort_values(key).reset_index(drop=True)
    qb = sim.ivfpq_topk_from_store(
        spark, qpath, None, None, probes, k=5, nprobe=3
    ).toPandas().sort_values(key).reset_index(drop=True)
    assert qa.equals(qb)
    sim.append_ivfpq_store(probes, qpath)
    # refit a CODES store from nothing but the path (codebooks loaded,
    # new centroids + digests persisted for the next reader)
    rc = sim.refit_cell_store(spark, qpath, n_centroids=8, fit="take")
    assert sim._centroid_digest(
        sim.load_store_centroids(spark, qpath)
    ) == sim._centroid_digest(rc)
    assert sim.ivfpq_topk_from_store(
        spark, qpath, None, None, probes, k=5, nprobe=3
    ).count() > 0

    os.remove(os.path.join(path, sim.STORE_META_FILE))
    with pytest.raises(ValueError, match="no persisted centroid"):
        sim.ivf_topk_from_store(spark, path, None, probes, k=5)


def test_rerank_from_store_matches_batch(spark, emb, tmp_path):
    """ivfpq_rerank_from_store == ivfpq_rerank_topk row-for-row under
    the same metadata (same centroids → same cells → same ADC shortlist
    truncation → same exact re-rank), including with ALL metadata
    loaded from the store (None/None)."""
    probes = emb.where(F.col("vec_id") % 100 == 0)
    books = sim.pq_train(emb, m=8, k=16, fit="take")
    path = str(tmp_path / "ivfpq")
    cents = sim.write_ivfpq_store(emb, path, books, n_centroids=8,
                                  fit="take").localCheckpoint(eager=True)
    key = ["probe_id", "rank"]
    want = sim.ivfpq_rerank_topk(
        emb, probes, books, k=5, shortlist=20, n_centroids=8, nprobe=3,
        fit="take", centroids=cents,
    ).toPandas().sort_values(key).reset_index(drop=True)
    got = sim.ivfpq_rerank_from_store(
        spark, path, emb, probes, cents, books, k=5, shortlist=20,
        nprobe=3,
    ).toPandas().sort_values(key).reset_index(drop=True)
    assert want.equals(got)
    # the self-describing path: codes dir + float table, nothing else
    got2 = sim.ivfpq_rerank_from_store(
        spark, path, emb, probes, k=5, shortlist=20, nprobe=3,
    ).toPandas().sort_values(key).reset_index(drop=True)
    assert want.equals(got2)


def test_sidecar_hadoop_path_roundtrip(spark, emb, tmp_path):
    """The sidecar write/read HADOOP branch (any '://' scheme routes
    through org.apache.hadoop.fs.FileSystem — the path a real HDFS/S3A
    store takes), driven on file://: write → meta round trip →
    self-described serve, all through URIs."""
    path = "file://" + str(tmp_path / "ivf")
    sub = emb.where(F.col("vec_id") < 200)
    cents = sim.write_ivf_store(sub, path, n_centroids=4, fit="take")
    meta = sim.read_store_meta(spark, path)
    assert meta is not None and meta["layout"] == "ivf_float"
    loaded = sim.load_store_centroids(spark, path)
    assert sim._centroid_digest(loaded) == meta["centroid_digest"]
    assert sim._centroid_digest(loaded) == sim._centroid_digest(cents)
    probes = sub.where(F.col("vec_id") % 10 == 0)
    assert sim.ivf_topk_from_store(
        spark, path, None, probes, k=3, nprobe=2
    ).count() > 0


def test_delete_from_cell_store(spark, emb, tmp_path):
    """DELETE leg: anti-join rewrite under the compactor's guard/swap —
    victims gone (every copy of a duplicated id), survivors and the
    sidecar intact, serve results == a rebuild without the victims."""
    path = str(tmp_path / "ivf")
    cents = sim.write_ivf_store(emb, path, n_centroids=8,
                                fit="take").localCheckpoint(eager=True)
    probes = emb.where(F.col("vec_id") % 100 == 0)
    # duplicate one id via append so the every-copy contract is live
    dup = emb.where(F.col("vec_id") == 7)
    sim.append_ivf_store(dup, path)
    n0 = spark.read.parquet(path).count()
    victims = emb.where(F.col("vec_id") % 10 == 7).select("vec_id")
    n_victim_rows = victims.count() + 1  # id 7 exists twice now
    n_del = sim.delete_from_cell_store(spark, path, victims)
    assert n_del == n_victim_rows
    after = spark.read.parquet(path)
    assert after.count() == n0 - n_victim_rows
    assert after.where(F.col("vec_id") % 10 == 7).count() == 0
    # sidecar survived; serve equals rebuild-without-victims
    assert sim.read_store_meta(spark, path) is not None
    key = ["probe_id", "rank"]
    got = sim.ivf_topk_from_store(
        spark, path, None, probes, k=5, nprobe=3
    ).toPandas().sort_values(key).reset_index(drop=True)
    path2 = str(tmp_path / "rebuild")
    sim.write_ivf_store(
        emb.where(F.col("vec_id") % 10 != 7), path2, centroids=cents,
        corpus_assign=sim.ivf_assign(
            emb.where(F.col("vec_id") % 10 != 7), cents, 1
        ),
    )
    want = sim.ivf_topk_from_store(
        spark, path2, cents, probes, k=5, nprobe=3
    ).toPandas().sort_values(key).reset_index(drop=True)
    assert got.equals(want)
    # literal-iterable form + empty short-circuit
    assert sim.delete_from_cell_store(spark, path, []) == 0
    assert sim.delete_from_cell_store(spark, path, [4]) == 1


def test_describe_cell_store(spark, emb, tmp_path):
    """The maintenance dashboard: counts/skew/files + the explicit
    compact/refit recommendations using the ops' own thresholds."""
    path = str(tmp_path / "ivf")
    sim.write_ivf_store(emb, path, n_centroids=8, fit="take")
    d0 = sim.describe_cell_store(spark, path)
    n = spark.read.parquet(path).count()
    assert d0["layout"] == "ivf_float" and d0["n_rows"] == n
    assert d0["n_cells"] <= 8 and d0["has_metadata_sidecar"]
    assert d0["self_describing"]
    # file sprawl from appends → compact recommendation
    probes = emb.where(F.col("vec_id") % 50 == 0)
    for _ in range(3):
        sim.append_ivf_store(probes, path)
    d1 = sim.describe_cell_store(spark, path, max_files_per_cell=2)
    assert d1["max_files_per_cell"] > 2
    assert any(r.startswith("compact:") for r in d1["recommendations"])
    # overgrown cells → auto-refit recommendation
    d2 = sim.describe_cell_store(spark, path, target_rows_per_cell=10)
    assert any("n_centroids='auto'" in r for r in d2["recommendations"])
    # codes layout reported from the sidecar
    qpath = str(tmp_path / "ivfpq")
    books = sim.pq_train(emb, m=8, k=16, fit="take")
    sim.write_ivfpq_store(emb, qpath, books, n_centroids=8, fit="take")
    assert sim.describe_cell_store(spark, qpath)["layout"] == "ivfpq_codes"
