#!/usr/bin/env python
"""ANN recall/cost table (VERDICT r10 Next #3): recall@5 vs the exact
baseline AND wall time for every graded ANN tier, as a committed
artifact + a pytest floor gate — so an nprobe/bits/plane tuning that
silently tanks recall fails a test the same way a perf regression fails
the bench floor challenge.

Method inventory = the q_ann graded union (entry). The two SemDeDup
branches are PRUNE ops, not top-k retrieval — recall@5 is undefined for
them; they are reported with wall time + kept_fraction and recall null
(documented, not silently skipped — the no-silent-caps rule).

Cost decomposition: shared index-BUILD work (take-fit, full-corpus
assignment, PQ encode, int8 reconstruct, store writes) is timed once
under "build"; per-method wall time is the SEARCH under already-built
(checkpointed / on-disk) index frames — the serving-shape cost a
recall/cost trade actually weighs. Every search timing includes its own
candidate generation, scoring and ranking.

Usage: SPARK_GRAFT_SF_DIR=... python recall_check.py
Prints one JSON line; the committed artifact lives in RECALL_r11.json
(sf0.1) and the floor gate in tests/test_ann_recall_floors.py (sf0.01,
via compute_table below — artifact and gate share this module).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry  # noqa: E402
from wingfoil_spark.session import get_spark, materialize  # noqa: E402

#: recall@5 floors asserted on the sf0.1 artifact run (measured r11
#: values minus margin). The ABSOLUTE levels are a property of the
#: SYNTHETIC corpus, not the algorithms: the testdata embeddings are
#: near-isotropic 64-d vectors with no cluster structure, so a probe's
#: true top-5 spreads almost uniformly across cells/buckets and a
#: bucketed tier's recall ≈ the fraction of the corpus it scans (ivf
#: nprobe=4/16 → ~0.5 with self-cell correlation; one 8-bit LSH bucket
#: → ~0.05; 8x16 take-fit PQ codebooks quantize isotropic data
#: coarsely → ~0.1). On a real clustered embedding corpus these same
#: tiers sit far higher — the floors exist to catch a RELATIVE
#: regression (an nprobe/bits/plane tuning silently tanking recall),
#: which is exactly measurable against a fixed corpus. Every pipeline
#: is deterministic (take fits, md5 planes): repeated runs return
#: identical recall, so a floor breach is a code change, never noise.
RECALL_FLOORS = {
    "exact": 0.999,      # measured 1.0 (is the baseline)
    "ivf": 0.50,         # measured 0.535
    "ivf_store": 0.50,   # identical to ivf by round-trip contract
    "lloyd": 0.53,       # measured 0.565 — the graded k-means tier
    #                    # (decon_stream part='ivf_lloyd'); must beat take
    "int8": 0.95,        # measured 0.985 — 8 bits preserve direction
    "lsh": 0.03,         # measured 0.05
    "lsh_mp": 0.15,      # measured 0.18 — r13 Hamming-1 multi-probe,
    #                    # the production dial over the same planes
    "lsh_t4": 0.09,      # measured 0.105 — r13 four independent tables
    "lsh_t4_mp": 0.42,   # measured 0.485 — tables × multiprobe composed:
    #                    # the full dial, ~10x the single-bucket recall
    "pq": 0.07,          # measured 0.095
    "pq_lloyd": 0.19,    # measured 0.215 — r14 production codebooks
    #                    # (fit='lloyd', k=64/subspace): 2.3x take-fit
    #                    # PQ on the same codes-only search path
    "ivfpq": 0.06,       # measured 0.08
    "ivfpq_store": 0.06,  # identical to ivfpq by round-trip contract
    "ivfpq_rerank": 0.30,  # measured 0.33 — r14 exact re-rank of the
    #                      # ADC top-50 shortlist (4.1x ivfpq; ceiling =
    #                      # IVF nprobe coverage, sweep in the artifact)
}


#: recall@5 floors for the PLANTED-CLUSTER arm (r14, VERDICT r13
#: Next #4). RECALL.md's context note explains the isotropic floors'
#: low absolute levels with "on a real clustered corpus these same
#: tiers sit far higher" — this arm turns that sentence into measured
#: numbers: the SAME tiers, same parameters, same code paths, over a
#: deterministic synthetic corpus with 16 planted Gaussian clusters
#: (production-shaped embedding geometry). Floors = measured minus
#: margin; the generator is seeded, so a breach is a code change.
#: What the numbers show (r14-measured, n=2000): the CANDIDATE-
#: RESTRICTION tiers are the ones cluster structure rescues — ivf/lloyd
#: 0.535/0.565 isotropic -> 1.0 planted (cells align with clusters), the
#: full LSH dial 0.485 -> 0.98 — while the QUANTIZATION tiers stay low
#: (pq 0.075, pq_lloyd 0.23): ranking WITHIN a tight cluster is noise-
#: level distinctions that coarse codebooks cannot resolve, which is why
#: production systems use PQ for candidate compression under an IVF
#: restriction + exact re-rank, not as the final ranking. Both facts are
#: now floors, not prose.
PLANTED_FLOORS = {
    "exact": 0.999,
    "ivf": 0.95,        # measured 1.0
    "lloyd": 0.95,      # measured 1.0
    "lsh": 0.25,        # measured 0.30
    "lsh_mp": 0.55,     # measured 0.62
    "lsh_t4": 0.65,     # measured 0.715
    "lsh_t4_mp": 0.90,  # measured 0.98
    "pq": 0.05,         # measured 0.075
    "pq_lloyd": 0.18,   # measured 0.23
    "ivfpq": 0.05,      # measured 0.075
    "ivfpq_rerank": 0.50,  # measured 0.565 at shortlist=50 (the 125-
    #                      # member clusters outnumber the shortlist;
    #                      # shortlist=200 reads 1.0 — the dial works)
    "int8": 0.95,       # measured 0.985
}


def planted_corpus(spark, n: int, dim: int = 64, n_clusters: int = 16,
                   sigma: float = 0.05, seed: int = 714):
    """Deterministic clustered synthetic corpus: ``n_clusters`` unit-norm
    Gaussian centers, round-robin cluster membership, per-dim noise
    ``sigma`` (noise norm ≈ sigma·√dim = 0.4 → intra-cluster cosine
    ≈ 0.93, inter ≈ 0 at 64-d) — the geometry a real embedding model
    produces, unlike the near-isotropic testdata. Seeded ``default_rng``
    is reproducible across platforms; float32 to match the embeddings
    table's FLOAT[] column so every tier runs the identical code path."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    assign = np.arange(n) % n_clusters
    X = (centers[assign] + sigma * rng.standard_normal((n, dim))).astype(
        np.float32
    )
    rows = [(int(i), X[i].tolist()) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _timed(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def compute_table(spark, sf_dir: str, k: int = 5, sweep: bool = False,
                  corpus_df=None, tag: str | None = None) -> dict:
    """recall@5 + wall time for every graded ANN tier at ``sf_dir``.

    Deterministic end to end (take fits, md5-derived planes), so the
    returned recalls are exact reproducible values, not samples.

    ``sweep=True`` adds the recall/cost DIAL curves to the output:
    the IVF nprobe sweep (1..n_centroids — the knob a deployment
    actually turns; nprobe=n_centroids degrades to exact, recall 1.0 by
    construction) and the production ``fit='kmeans'`` row (seeded
    KMeans centroids tile the data; the graded tiers use fit='take'
    only because the DuckDB oracle must replay the fit verbatim).
    """
    import tempfile

    from pyspark.sql import functions as F

    from wingfoil_spark.functions import selection as sel
    from wingfoil_spark.functions import similarity as sim
    from wingfoil_spark.sources.tables import load_table

    e = corpus_df if corpus_df is not None else load_table(
        spark, sf_dir, "embeddings"
    )
    if corpus_df is not None:
        # a generated corpus (the planted-cluster arm) re-plans its
        # createDataFrame rows on every tier action — pin it once
        e = materialize(e)
    probes = e.where(F.col("vec_id") % 50 == 0)

    build: dict = {}
    t0 = time.perf_counter()
    books = sim.pq_train(e, m=8, k=16, fit="take")
    cents = materialize(sim.ivf_centroids(e, 16, fit="take"))
    asg = materialize(sel.semdedup_assign(
        e, n_clusters=16, fit="take", centroids=cents
    ))
    build["fit_assign_s"] = round(time.perf_counter() - t0, 3)
    # the graded k-means tier (decon_stream part='ivf_lloyd'): the
    # deterministic SQL-replayable Lloyd fit + its own full-corpus
    # assignment (lloyd cells differ from the take cells)
    t0 = time.perf_counter()
    lcents = materialize(sim.ivf_centroids(e, 16, fit="lloyd"))
    lasg = materialize(sim.ivf_assign(e, lcents, 1))
    build["lloyd_fit_assign_s"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    codes = materialize(sim.pq_encode(e, books).select("vec_id", "pq_code"))
    build["pq_encode_s"] = round(time.perf_counter() - t0, 3)
    # r14 (VERDICT r13 Next #3): the PRODUCTION PQ tier — deterministic
    # per-subspace L2 Lloyd codebooks at k=64 codewords/subspace (vs the
    # oracle tier's take-fit k=16), encoded over the same corpus. The fit
    # cost is the price of real codebooks; the search path is unchanged.
    t0 = time.perf_counter()
    lbooks = sim.pq_train(e, m=8, k=64, fit="lloyd")
    lcodes = materialize(sim.pq_encode(e, lbooks).select(
        "vec_id", "pq_code"
    ))
    build["pq_lloyd_fit_encode_s"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    q8 = materialize(sim.dequantize_embeddings(
        sim.quantize_embeddings(e).select("vec_id", "q_embedding", "q_scale")
    ).select("vec_id", "embedding"))
    build["int8_reconstruct_s"] = round(time.perf_counter() - t0, 3)

    sf_tag = tag or os.path.basename(sf_dir.rstrip("/"))
    app = spark.sparkContext.applicationId
    ivf_path = os.path.join(
        tempfile.gettempdir(), f"wingfoil_recall_ivf_{app}_{sf_tag}"
    )
    ipq_path = os.path.join(
        tempfile.gettempdir(), f"wingfoil_recall_ivfpq_{app}_{sf_tag}"
    )
    entry._register_store_cleanup(ivf_path)
    entry._register_store_cleanup(ipq_path)
    t0 = time.perf_counter()
    sim.write_ivf_store(
        e, ivf_path, n_centroids=16, fit="take",
        centroids=cents, corpus_assign=asg,
    )
    build["ivf_store_write_s"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    sim.write_ivfpq_store(
        e, ipq_path, books,
        centroids=cents, corpus_assign=asg, corpus_codes=codes,
    )
    build["ivfpq_store_write_s"] = round(time.perf_counter() - t0, 3)

    # the exact baseline both times the brute-force tier and feeds every
    # recall computation (checkpointed so graders don't re-run it)
    t_exact0 = time.perf_counter()
    exact = materialize(sim.cosine_topk(e, probes, k=k))
    t_exact = round(time.perf_counter() - t_exact0, 3)

    searches = {
        "lsh": lambda: sim.lsh_bucketed_topk(e, probes, k=k),
        # r13: the multi-probe production tier (Hamming-1 bit-flip
        # buckets) — the dial RECALL.md's context note describes,
        # measured instead of prose
        "lsh_mp": lambda: sim.lsh_bucketed_topk(e, probes, k=k,
                                                probe_hamming=1),
        # r13: the multi-TABLE axis — L=4 independent plane tables,
        # alone and composed with per-table Hamming-1 probing (the
        # full amplification dial; graded as decon_stream part='lsh_t')
        "lsh_t4": lambda: sim.lsh_bucketed_topk(e, probes, k=k, n_tables=4),
        "lsh_t4_mp": lambda: sim.lsh_bucketed_topk(
            e, probes, k=k, n_tables=4, probe_hamming=1
        ),
        "ivf": lambda: sim.ivf_topk(
            e, probes, k=k, n_centroids=16, nprobe=4, fit="take",
            centroids=cents, corpus_assign=asg,
        ),
        "ivf_store": lambda: sim.ivf_topk_from_store(
            spark, ivf_path, cents, probes, k=k, nprobe=4
        ),
        "lloyd": lambda: sim.ivf_topk(
            e, probes, k=k, nprobe=4, centroids=lcents, corpus_assign=lasg,
        ),
        "pq": lambda: sim.pq_topk(codes, probes, books, k=k),
        "pq_lloyd": lambda: sim.pq_topk(lcodes, probes, lbooks, k=k),
        "ivfpq": lambda: sim.ivfpq_topk(
            e, probes, books, k=k, n_centroids=16, nprobe=4, fit="take",
            corpus_codes=codes, centroids=cents, corpus_assign=asg,
        ),
        "ivfpq_store": lambda: sim.ivfpq_topk_from_store(
            spark, ipq_path, cents, books, probes, k=k, nprobe=4
        ),
        # r14: candidate generation over codes + EXACT re-rank of the
        # ADC top-50 shortlist — the production serving composition the
        # planted arm motivates (quantizers find the right NEIGHBORHOOD
        # but cannot rank within it; the exact pass reads only
        # probes×shortlist floats). Ceiling = IVF nprobe coverage.
        "ivfpq_rerank": lambda: sim.ivfpq_rerank_topk(
            e, probes, books, k=k, shortlist=50, n_centroids=16,
            nprobe=4, fit="take", corpus_codes=codes, centroids=cents,
            corpus_assign=asg,
        ),
        "int8": lambda: sim.cosine_topk(q8, probes, k=k),
    }
    out = {"exact": {"wall_s": t_exact, "recall_at_5": 1.0}}
    for name, fn in searches.items():
        t = _timed(fn())
        r = (
            sim.recall_at_k(exact, fn(), k=k)
            .agg(
                F.round(F.avg("recall"), 6).alias("recall"),
                F.count("*").alias("n_probes"),
            )
            .collect()[0]
        )
        out[name] = {
            "wall_s": t,
            "recall_at_5": float(r["recall"]),
            "n_probes": int(r["n_probes"]),
        }

    result_extra: dict = {}
    if sweep:
        sweep_rows = []
        for nprobe in (1, 2, 4, 8, 16):
            fn = lambda np_=nprobe: sim.ivf_topk(
                e, probes, k=k, n_centroids=16, nprobe=np_, fit="take",
                centroids=cents, corpus_assign=asg,
            )
            t = _timed(fn())
            r = (
                sim.recall_at_k(exact, fn(), k=k)
                .agg(F.round(F.avg("recall"), 6).alias("recall"))
                .collect()[0]["recall"]
            )
            sweep_rows.append(
                {"nprobe": nprobe, "recall_at_5": float(r), "wall_s": t}
            )
        result_extra["ivf_nprobe_sweep"] = sweep_rows
        # r14: the rerank SHORTLIST dial — recall converges to the IVF
        # nprobe-coverage ceiling as the exact pass reads more floats
        # (the second knob a deployment turns, orthogonal to nprobe)
        rr_rows = []
        for sl in (50, 100, 200):
            fn = lambda sl_=sl: sim.ivfpq_rerank_topk(
                e, probes, books, k=k, shortlist=sl_, n_centroids=16,
                nprobe=4, fit="take", corpus_codes=codes,
                centroids=cents, corpus_assign=asg,
            )
            t = _timed(fn())
            r = (
                sim.recall_at_k(exact, fn(), k=k)
                .agg(F.round(F.avg("recall"), 6).alias("recall"))
                .collect()[0]["recall"]
            )
            rr_rows.append(
                {"shortlist": sl, "recall_at_5": float(r), "wall_s": t}
            )
        result_extra["ivfpq_rerank_shortlist_sweep"] = rr_rows
        # construct the kmeans-tier frame ONCE: ivf_topk(fit='kmeans')
        # runs the seeded KMeans fit eagerly at construction, so a
        # second construction would fit twice for bit-identical
        # centroids (review r11); the timed action and the recall read
        # reuse the same frame (fit done, assignments re-planned)
        t0 = time.perf_counter()
        km = sim.ivf_topk(e, probes, k=k, n_centroids=16, nprobe=4)
        t_km = _timed(km)
        build_km = round(time.perf_counter() - t0 - t_km, 3)
        r_km = (
            sim.recall_at_k(exact, km, k=k)
            .agg(F.round(F.avg("recall"), 6).alias("recall"))
            .collect()[0]["recall"]
        )
        result_extra["ivf_kmeans_nprobe4"] = {
            "recall_at_5": float(r_km),
            "wall_s": t_km,
            "kmeans_fit_s": build_km,
            "note": "production fit (seeded KMeans); take-fit is the "
                    "oracle tier",
        }

    # SemDeDup branches: prune ops — recall@k undefined; wall time +
    # kept_fraction reported instead (documented non-applicability)
    for name, cap in (
        ("semdedup", entry.SD_CAP),
        ("semdedup_cap", entry.SD_CAP_TIGHT),
    ):
        pruned = sel.semdedup_prune(
            asg, threshold=entry.SD_THRESH, max_cluster_size=cap
        )
        t = _timed(pruned)
        agg = pruned.agg(
            F.round(
                F.avg(F.when(F.col("keep"), 1.0).otherwise(0.0)), 6
            ).alias("kept"),
            F.count("*").alias("n"),
        ).collect()[0]
        out[name] = {
            "wall_s": t,
            "recall_at_5": None,
            "note": "prune op - recall@k not applicable",
            "kept_fraction": float(agg["kept"]),
            "n_vectors": int(agg["n"]),
        }
    res = {"sf_dir": sf_dir, "k": k, "build": build, "methods": out}
    res.update(result_extra)
    return res


#: the drift arm's gates (r14): after appending 4 never-fitted clusters
#: under frozen 12-cluster-fit centroids, single-cell recall on drifted
#: probes and cell balance both degrade; refit_cell_store must restore
#: both. Deterministic end to end (seeded corpus, lloyd fit, md5-free
#: path) — measured n=2000/50 probes: recall@5 nprobe=1 0.484 -> 1.0,
#: max/mean cell skew 1.904 -> 1.0. Floors = measured minus margin.
DRIFT_FLOORS = {
    "recall_after_min": 0.95,       # measured 1.0
    "recall_gain_min": 0.3,         # measured +0.516
    "skew_after_max": 1.2,          # measured 1.0 (perfect tiling)
    # the codes twin: fraction of rows whose post-refit cell (assigned
    # from pq_decode RECONSTRUCTIONS — no float corpus) equals the cell
    # their TRUE float vector would get under the same refit centroids.
    # Measured 0.9965 at n=2000: the no-float refit loses essentially
    # nothing on clustered geometry (quantization error << cluster
    # separation).
    "codes_cid_agreement_min": 0.97,
}


def drift_arm(spark, n: int = 2000, k: int = 5) -> dict:
    """The WHY of :func:`refit_cell_store`, measured: build the IVF
    store over 12 of the 16 planted clusters (fit='lloyd'), append the
    other 4 — the distribution drift a crawl produces — and serve
    drifted probes. Under the stale geometry each new cluster crams
    into whichever old cells happen to be nearest: single-cell
    (nprobe=1) recall collapses and the hottest cell grows to ~2× the
    mean (the straggler a 100 TB serving join feels). One refit
    restores both, and the sidecar turnover makes the stale centroid
    frame unusable instead of silently wrong."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from wingfoil_spark.functions import similarity as sim

    full = materialize(planted_corpus(spark, n))
    old = full.where(F.col("vec_id") % 16 < 12)
    drift = full.where(F.col("vec_id") % 16 >= 12)
    probes = drift.where(F.col("vec_id") % 10 == 2)
    exact = materialize(sim.cosine_topk(full, probes, k=k))
    root = tempfile.mkdtemp(prefix="wf_recall_drift_")
    path = root + "/ivf"
    try:
        t0 = time.perf_counter()
        cents_old = materialize(sim.write_ivf_store(
            old, path, n_centroids=16, fit="lloyd"
        ))
        sim.append_ivf_store(drift, path, cents_old)
        t_grow = round(time.perf_counter() - t0, 3)

        def recall(cents, nprobe):
            got = sim.ivf_topk_from_store(
                spark, path, cents, probes, k=k, nprobe=nprobe
            )
            return (
                sim.recall_at_k(exact, got, k=k)
                .agg(F.round(F.avg("recall"), 6).alias("r"))
                .collect()[0].r
            )

        def cell_skew():
            cc = (
                spark.read.parquet(path)
                .groupBy("cid").count().toPandas()["count"]
            )
            return round(float(cc.max() / cc.mean()), 3)

        before = {
            "recall_at_5_nprobe1": recall(cents_old, 1),
            "recall_at_5_nprobe2": recall(cents_old, 2),
            "cell_skew_max_over_mean": cell_skew(),
        }
        t0 = time.perf_counter()
        cents_new = sim.refit_cell_store(
            spark, path, n_centroids=16, fit="lloyd"
        )
        t_refit = round(time.perf_counter() - t0, 3)
        after = {
            "recall_at_5_nprobe1": recall(cents_new, 1),
            "recall_at_5_nprobe2": recall(cents_new, 2),
            "cell_skew_max_over_mean": cell_skew(),
        }
        # the stale frame must now be REFUSED, not silently wrong
        try:
            sim.ivf_topk_from_store(
                spark, path, cents_old, probes, k=k, nprobe=1
            )
            stale_refused = False
        except ValueError:
            stale_refused = True
        # the CODES twin: the same drift handled with NO float corpus —
        # stale-fit codes store grows by the drifted clusters, then
        # refits from pq_decode reconstructions alone. Fidelity metric:
        # fraction of rows landing in the SAME cell their true float
        # vector would get under the refit centroids (isolates
        # reconstruction quality; label permutation cannot fake it)
        qpath = root + "/ivfpq"
        books = sim.pq_train(old, m=8, k=16, fit="lloyd")
        qc = materialize(sim.write_ivfpq_store(
            old, qpath, books, n_centroids=16, fit="lloyd"
        ))
        sim.append_ivfpq_store(drift, qpath, qc, books)
        rc = sim.refit_cell_store(
            spark, qpath, 16, fit="lloyd", codebooks=books
        )
        got = spark.read.parquet(qpath).select("vec_id", "cid")
        want = sim.ivf_assign(full, rc, 1).select(
            "vec_id", F.col("cid").alias("cid_true")
        )
        j = materialize(got.join(want, "vec_id"))
        agreement = round(
            j.where(F.col("cid") == F.col("cid_true")).count() / j.count(),
            6,
        )
        return {
            "n": n,
            "n_probes": probes.count(),
            "scenario": "fit on 12/16 planted clusters, append the "
                        "other 4, probe the drifted clusters",
            "before_refit": before,
            "after_refit": after,
            "stale_centroids_refused": stale_refused,
            "codes_refit_cid_agreement": agreement,
            "grow_wall_s": t_grow,
            "refit_wall_s": t_refit,
            "floors": DRIFT_FLOORS,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("wingfoil_recall_check")
    from wingfoil_spark.sources.tables import load_table
    table = compute_table(spark, sf, sweep=True)
    table["metric"] = "ann_recall_cost"
    table["floors"] = RECALL_FLOORS
    bad = [
        m
        for m, floor in RECALL_FLOORS.items()
        if table["methods"][m]["recall_at_5"] is not None
        and table["methods"][m]["recall_at_5"] < floor
    ]
    # the planted-cluster arm (r14): same tiers over a corpus with the
    # cluster structure a real embedding model produces — sized to the
    # real corpus so the two tables read side by side
    n = load_table(spark, sf, "embeddings").count()
    planted = compute_table(
        spark, sf, k=5, corpus_df=planted_corpus(spark, n), tag="planted"
    )
    table["planted"] = {
        "n": n,
        "generator": "planted_corpus(n_clusters=16, sigma=0.05, seed=714)",
        "build": planted["build"],
        "methods": planted["methods"],
        "floors": PLANTED_FLOORS,
    }
    bad += [
        f"planted:{m}"
        for m, floor in PLANTED_FLOORS.items()
        if planted["methods"][m]["recall_at_5"] is not None
        and planted["methods"][m]["recall_at_5"] < floor
    ]
    # the drift arm (r14): append 4 never-fitted clusters under frozen
    # centroids, then refit_cell_store — recall AND cell balance must
    # recover, and the stale frame must be refused
    drift = drift_arm(spark)
    table["drift"] = drift
    if drift["after_refit"]["recall_at_5_nprobe1"] < DRIFT_FLOORS[
        "recall_after_min"
    ]:
        bad.append("drift:recall_after")
    if (
        drift["after_refit"]["recall_at_5_nprobe1"]
        - drift["before_refit"]["recall_at_5_nprobe1"]
    ) < DRIFT_FLOORS["recall_gain_min"]:
        bad.append("drift:recall_gain")
    if drift["after_refit"]["cell_skew_max_over_mean"] > DRIFT_FLOORS[
        "skew_after_max"
    ]:
        bad.append("drift:skew_after")
    if not drift["stale_centroids_refused"]:
        bad.append("drift:stale_not_refused")
    if drift["codes_refit_cid_agreement"] < DRIFT_FLOORS[
        "codes_cid_agreement_min"
    ]:
        bad.append("drift:codes_cid_agreement")
    # structural invariants, corpus-independent: the nprobe sweep must be
    # monotone non-decreasing in recall and EXACT at nprobe=n_centroids
    sweep = table["ivf_nprobe_sweep"]
    rs = [p["recall_at_5"] for p in sweep]
    if rs != sorted(rs):
        bad.append("ivf_nprobe_sweep:non-monotone")
    if rs[-1] != 1.0:
        bad.append("ivf_nprobe_sweep:exhaustive!=1.0")
    table["below_floor"] = bad
    print(json.dumps(table))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
