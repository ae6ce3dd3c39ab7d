#!/usr/bin/env python
"""Empirical scale validation (VERDICT r2 item 9): the generator tops out
at sf0.1, so this builds an sf1-EQUIVALENT dataset (10x replication with
key-space widening) and checks that no headline query regresses
superlinearly in sf.

Replication is scale-honest, not byte-copy:
- events: event_id and user_id offset per replica — 10x the KEYS, same
  per-key depth (the realistic growth direction for a keyed stream; naive
  duplication would create 10-row bursts at every instant instead).
- documents: doc_id offset AND every word suffixed with the replica tag, so
  replicas are textually distinct — otherwise MinHash/LSH sees 10-way
  near-dup clusters everywhere and candidate pairs explode quadratically by
  DATA construction, not by plan defect.
- embeddings: vec_id offset + deterministic per-replica jitter (direction
  actually changes; pure scaling would leave cosine geometry identical).
- lineitem/orders: plain row replication (scan+agg queries measure bytes).
- ANN runs with a FIXED probe set at both scales: the graded query's
  probe count grows with the corpus, which makes the exact tier
  quadratic-by-design; scaling corpus-only isolates the engine's cost.

Output: one JSON line {"queries": {name: {t_small, t_big, ratio}},
"replication": 10, "superlinear": [...]} and exit 1 if any ratio exceeds
replication * SLACK.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry  # noqa: E402
from wingfoil_spark.session import get_spark, materialize  # noqa: E402

SMALL = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BIG = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/wingfoil_scale_sf1eq")
REPL = 10
SLACK = 1.6  # parallel slack: ratio <= REPL * SLACK counts as linear

#: second tier (VERDICT r3 item 8): the worst 10× ratios re-run at 30× to
#: confirm the sublinear trend holds another half-decade. r5 (VERDICT r4
#: task 5) adds text_stats and curation — the two worst 10× ratios not
#: previously covered (2.81 and 1.40): the text battery's Arrow stages
#: and the two-phase distributed prefix sum.
BIG30 = os.environ.get("SPARK_GRAFT_SCALE30_DIR", "/tmp/wingfoil_scale_sf3eq")
REPL30 = 30
QUERIES_30X = ["stats_tw_kernel", "book_feed", "text_stats", "curation",
               "selection"]  # r6: the DSIR/BM25 union joins the 30x tier
# (+ ann_fixed, added in main())

#: third tier (r5): the LLM-pipeline queries pushed to 100× (sf10-eq,
#: 10M docs / 2M vectors) — the half-decade beyond 30× where a hidden
#: all-pairs or single-task stage would be unmissable. Gated behind
#: SPARK_GRAFT_SCALE100=1 (it adds ~10 min); results land in
#: queries_100x when run.
BIG100 = os.environ.get("SPARK_GRAFT_SCALE100_DIR", "/tmp/wingfoil_scale_sf10eq")
REPL100 = 100
#: r6 (VERDICT r5 Next #6): + jaccard_pairs and dynamic_membership — the
#: two heaviest stateful/join pipelines, previously measured only to
#: 30x/10x — and the new lm_packing union.
QUERIES_100X = [
    "text_stats", "curation", "minhash",
    "jaccard_pairs", "dynamic_membership", "lm_packing",
    "selection",  # r7 (VERDICT r6 Next #5): worst 10x ratio in the tier
]  # + ann_fixed

#: linear-expected graded queries exercised at both scales
QUERIES = [
    "q1_pricing_summary",
    "tumbling_1h",
    "ewma",
    "stats_tw_kernel",
    "order_book_top",
    "book_feed",
    "dynamic_membership",
    "text_stats",
    "minhash",
    "jaccard_pairs",
    "curation",
    "lm_packing",
    "selection",  # r6: DSIR profiles+weights+resample, BM25, exact keep-set
]


def build_big(spark, big: str = BIG, repl: int = REPL,
              tables: tuple = ("events", "documents", "embeddings",
                               "lineitem", "orders")) -> None:
    from pyspark.sql import functions as F

    from wingfoil_spark.sources.tables import TABLES, load_table

    os.makedirs(big, exist_ok=True)
    marker = os.path.join(big, "_built")
    # the marker records WHICH tables are real replicas (the rest are
    # symlinks to SMALL). A previous round's build may cover fewer tables
    # — build only the missing ones, and NEVER write through a stale
    # symlink (Spark's overwrite would resolve it into the read-only
    # testdata tree): unlink first.
    have: set = set()
    if os.path.exists(marker):
        have = {t for t in open(marker).read().split(",") if t and t != "ok"}
        if set(tables) <= have:
            return
    tables = tuple(t for t in tables if t not in have)
    for t in tables:
        dst = os.path.join(big, f"{t}.parquet")
        if os.path.islink(dst):
            os.remove(dst)
    if "events" in tables:
        ev = load_table(spark, SMALL, "events")
        n_ev = 10_000_000
        n_user = 1_000_000
        parts = [
            ev.select(
                (F.col("event_id") + i * n_ev).alias("event_id"),
                (F.col("user_id") + i * n_user).alias("user_id"),
                *[c for c in ev.columns if c not in ("event_id", "user_id")],
            )
            for i in range(repl)
        ]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.write.mode("overwrite").parquet(os.path.join(big, "events.parquet"))

    if "documents" in tables:
        doc = load_table(spark, SMALL, "documents")
        parts = [
            doc.select(
                (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
                F.regexp_replace(F.col("text"), r"(\S+)", f"$1r{i}").alias("text"),
                *[c for c in doc.columns if c not in ("doc_id", "text")],
            )
            for i in range(repl)
        ]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.write.mode("overwrite").parquet(os.path.join(big, "documents.parquet"))

    if "embeddings" in tables:
        emb = load_table(spark, SMALL, "embeddings")
        parts = [
            emb.select(
                (F.col("vec_id") + i * 10_000_000).alias("vec_id"),
                F.transform(
                    F.col("embedding"),
                    lambda x, j: x + F.lit(0.0037 * i) * ((j % 5) - 2).cast("double"),
                ).alias("embedding"),
                *[c for c in emb.columns if c not in ("vec_id", "embedding")],
            )
            for i in range(repl)
        ]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.write.mode("overwrite").parquet(os.path.join(big, "embeddings.parquet"))

    for t in ("lineitem", "orders"):
        if t not in tables:
            continue
        d = load_table(spark, SMALL, t)
        u = d
        for _ in range(repl - 1):
            u = u.unionByName(d)
        u.write.mode("overwrite").parquet(os.path.join(big, f"{t}.parquet"))

    for t in TABLES:
        dst = os.path.join(big, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SMALL, f"{t}.parquet"), dst)
    open(marker, "w").write(",".join(sorted(have | set(tables))))


def selection_branches(spark):
    """Branch attribution for the selection union (VERDICT r6 Next #5):
    time each part standalone at SMALL and the 10x tier. r7 measured
    dsir at ~72% of the union and two token/bucket-level checkpoints
    SLOWER than recomputed hashes (6.26s / 9.56s vs 5.94s) — that
    conclusion was about materializing the WIDE intermediate arrays. r8
    (VERDICT r7 Next #3) took the third option: one scan emitting all
    three SCORE scalars (selection_scores — shared tokenize, one md5 per
    gram, tiny 4-column checkpoint)."""
    from pyspark.sql import functions as F

    from wingfoil_spark.functions import dedup as dd
    from wingfoil_spark.functions import selection as sel
    from wingfoil_spark.sources.tables import load_table

    def b_exact(spark, sf):
        return dd.exact_dedup(load_table(spark, sf, "documents"))

    def b_dsir(spark, sf):
        return sel.dsir_weights_subset(
            load_table(spark, sf, "documents"), F.col("lang") == "en",
            n_buckets=entry.SEL_BUCKETS,
        )

    def b_dsir_top(spark, sf):
        w = sel.dsir_weights_subset(
            load_table(spark, sf, "documents"), F.col("lang") == "en",
            n_buckets=entry.SEL_BUCKETS,
        )
        return sel.dsir_sample(w, entry.SEL_TOP)

    def b_bm25(spark, sf):
        return sel.bm25_topk(
            load_table(spark, sf, "documents"), list(entry.SEL_TERMS),
            k=entry.SEL_BM25_K,
        )

    def b_clf(spark, sf):
        # the ONE shared generator (review r13 — an inline copy here
        # would silently bench a different model after a coefs change)
        m = entry._derived_qc_model(spark)
        return sel.quality_scores(load_table(spark, sf, "documents"), m)

    out = {}
    for name, fn in [
        ("exact", b_exact), ("dsir", b_dsir), ("dsir_top", b_dsir_top),
        ("bm25", b_bm25), ("clf", b_clf),
    ]:
        t_small = timed(fn, spark, SMALL)
        t_big = timed(fn, spark, BIG)
        out[name] = {
            "t_small": round(t_small, 3),
            "t_big": round(t_big, 3),
            "ratio": round(t_big / t_small, 2),
        }
        print(f"# selection[{name}]: {t_small:.2f}s -> {t_big:.2f}s "
              f"({t_big / t_small:.1f}x)", file=sys.stderr)
    return out


def semdedup_cap_10x(spark):
    """The ENFORCED semdedup cap exercised at the 10x tier with the
    PRODUCTION cap (VERDICT r7 Next #5): sf1-eq embeddings (20k vectors
    / 16 take-centroids) put ~1.25k vectors in every cluster, so
    SD_CAP=512 splits each into ≥3 md5 sub-shards — the capped (cid,sub)
    join at scale, not the split-factor-1 noop the small SFs exercise
    under this cap. Also re-checks the containment invariant at scale:
    the capped prune set must sit inside the uncapped one."""
    import math

    from pyspark.sql import functions as F

    from wingfoil_spark.functions import selection as sel
    from wingfoil_spark.sources.tables import load_table

    e = load_table(spark, BIG, "embeddings")
    asg = materialize(sel.semdedup_assign(e, n_clusters=16, fit="take"))
    biggest = asg.groupBy("cid").count().agg(
        F.max("count").alias("m")
    ).collect()[0]["m"]
    split = math.ceil(biggest / entry.SD_CAP)

    def run(cap):
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            sel.semdedup_prune(
                asg, threshold=entry.SD_THRESH, max_cluster_size=cap
            ).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        return best

    t_capped = run(entry.SD_CAP)
    t_uncapped = run(None)
    pc = sel.semdedup_prune(
        asg, threshold=entry.SD_THRESH, max_cluster_size=entry.SD_CAP
    ).where(~F.col("keep")).select("vec_id")
    pu = sel.semdedup_prune(
        asg, threshold=entry.SD_THRESH, max_cluster_size=None
    ).where(~F.col("keep")).select("vec_id")
    extra = pc.join(pu, "vec_id", "left_anti").count()
    out = {
        "biggest_cluster": int(biggest),
        "cap": entry.SD_CAP,
        "split_factor": int(split),
        "t_capped": round(t_capped, 3),
        "t_uncapped": round(t_uncapped, 3),
        "capped_prunes_outside_uncapped": int(extra),
    }
    print(f"# semdedup_cap@10x: biggest cluster {biggest}, split x{split}, "
          f"capped {t_capped:.2f}s vs uncapped {t_uncapped:.2f}s, "
          f"containment violations {extra}", file=sys.stderr)
    return out


def semdedup_cap_100x(spark, cap: int = 64):
    """The cap at the tier where it is EXISTENTIAL, not an optimization
    (r9): sf10-eq embeddings put ~125k vectors in every one of the 16
    take-clusters, so the uncapped within-cluster pair join is ~16x125k²
    ≈ 2.5e11 pairs — not attempted (it is exactly the blow-up the cap
    guards against; the paper's answer is 'raise n_clusters', the cap is
    the guard-rail for when the fit misbehaves anyway). Under cap=64 the
    same corpus splits each cluster into ~2000 md5 sub-shards and the
    prune completes in seconds: bounded worst-key cost at 100x data, the
    whole point of the enforced bound. Runs only with the 100x tier."""
    import math

    from pyspark.sql import functions as F

    from wingfoil_spark.functions import selection as sel
    from wingfoil_spark.sources.tables import load_table

    e = load_table(spark, BIG100, "embeddings")
    asg = materialize(sel.semdedup_assign(e, n_clusters=16, fit="take"))
    biggest = asg.groupBy("cid").count().agg(
        F.max("count").alias("m")
    ).collect()[0]["m"]
    split = math.ceil(biggest / cap)
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        pruned = sel.semdedup_prune(
            asg, threshold=entry.SD_THRESH, max_cluster_size=cap
        )
        n_pruned = pruned.where(~F.col("keep")).count()
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
    out = {
        "biggest_cluster": int(biggest),
        "cap": cap,
        "split_factor": int(split),
        "t_capped": round(best, 3),
        "n_pruned": int(n_pruned),
        "uncapped": "not attempted: ~16 x 125k^2 = 2.5e11 pairs",
    }
    print(f"# semdedup_cap@100x: biggest cluster {biggest}, split x{split}, "
          f"capped prune {best:.2f}s ({n_pruned} pruned); uncapped join "
          "infeasible by construction", file=sys.stderr)
    return out


def decon_stream_scale(spark):
    """Streaming-scale tier (VERDICT r10 Next #2): the graded decon_stream
    parts carry hash grades but, until r11, zero scale evidence. This
    measures the two judge-named per-part costs (the fingerprint-store
    anti-join and the streamed ANN) plus the decon semi-join, each as its
    own availableNow run, across three configurations:

    - base:      1x arrivals (sf0.1, 4 files) vs 1x corpus snapshots
    - corpus10x: SAME arrivals vs 10x corpus snapshots (the claim under
      test — per-micro-batch cost must be sublinear in corpus HISTORY:
      the snapshots are the only corpus-sized inputs; stream-side work
      is arrival-sized by construction)
    - arr10x_corpus10x: 10x arrivals vs the same 10x snapshots
      (arrival-linear growth is the EXPECTED direction — 10x rows
      through the same 4 micro-batches)

    Snapshot/index builds are timed separately (they are batch jobs that
    legitimately scale with the corpus — the stream never re-does them).
    Caveat recorded in the output: the streamed-ANN candidate set per
    probe grows with corpus size BY CONSTRUCTION of any LSH bucket join
    (10x corpus => 10x rows per bucket), so its corpus ratio measures
    the engine's cost per candidate, not a fixed-work claim; the store
    anti-join's static side is one narrow hash column."""
    import os
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from wingfoil_spark.functions import selection as sel
    from wingfoil_spark.sources.tables import load_table
    from wingfoil_spark.streaming import ingest

    out: dict = {}
    tmp = tempfile.mkdtemp(prefix="wf_decon_scale_")
    try:
        small_docs = load_table(spark, SMALL, "documents").select(
            "doc_id", "text"
        )
        big_docs = load_table(spark, BIG, "documents").select("doc_id", "text")
        small_emb = load_table(spark, SMALL, "embeddings")
        big_emb = load_table(spark, BIG, "embeddings")
        paths = {}
        for name, df in (("docs1", small_docs), ("docs10", big_docs)):
            p = os.path.join(tmp, name)
            df.repartition(4).write.parquet(p)
            paths[name] = p
        for name, df in (("emb1", small_emb), ("emb10", big_emb)):
            p = os.path.join(tmp, name)
            (
                df.where(F.col("vec_id") % 50 == 0)
                # the 10x replica stores the jittered embedding as
                # array<double>; the graded stream schema is float
                .select(
                    "vec_id",
                    F.col("embedding").cast("array<float>").alias("embedding"),
                )
                .repartition(4)
                .write.parquet(p)
            )
            paths[name] = p
        # the big DOC snapshots are 1x UNION 10x-replicas (11x history):
        # every replica's words carry a suffix tag, so a big-only doc
        # snapshot would match ZERO arrivals — the join cost would still
        # be real but the match/drop path untested. The union keeps the
        # 1x content inside the grown history, so corpus10x drops/flags
        # arrivals while scanning ~11x the static rows. (The static
        # sides consume only fingerprints/gram hashes, so the replica-0
        # doc_id collision with the 1x slice is irrelevant.) Embeddings
        # need no union: replica 0 is the original vectors exactly (zero
        # jitter, zero offset), so the big index already contains the
        # arrival probes' true neighbors.
        docs11 = small_docs.unionByName(big_docs)
        t0 = time.perf_counter()
        fp1p = os.path.join(tmp, "fp1")
        fp10p = os.path.join(tmp, "fp10")
        ingest.build_fingerprint_store(
            small_docs.where(F.col("doc_id") % 3 == 0), fp1p
        )
        ingest.build_fingerprint_store(
            docs11.where(F.col("doc_id") % 3 == 0), fp10p
        )
        fp1 = materialize(spark.read.parquet(fp1p))
        fp10 = materialize(spark.read.parquet(fp10p))
        idx1 = materialize(ingest.build_ann_index(small_emb))
        idx10 = materialize(ingest.build_ann_index(big_emb))
        # r11: the graded IVF-serving path's static side — take-fit
        # centroids + the store-shaped (id, emb, cid) assignment, per
        # corpus tier (what a persisted cell layout reads back to)
        from wingfoil_spark.functions import similarity as sim

        cents1 = materialize(sim.ivf_centroids(small_emb, 16, fit="take"))
        cents10 = materialize(sim.ivf_centroids(big_emb, 16, fit="take"))
        asg1 = materialize(sim.ivf_assign(small_emb, cents1, 1))
        asg10 = materialize(sim.ivf_assign(big_emb, cents10, 1))
        # r12: the codes-only serving leg (streamed ivfpq_topk) — the
        # last graded streamed path without a scale row; codebooks are
        # shared (index metadata, corpus-size-independent), codes
        # frames are per-tier
        books = sim.pq_train(small_emb, m=8, k=16, fit="take")
        codes1 = materialize(
            asg1.select("vec_id", "cid")
            .join(sim.pq_encode(small_emb, books).select("vec_id", "pq_code"),
                  "vec_id")
        )
        codes10 = materialize(
            asg10.select("vec_id", "cid")
            .join(sim.pq_encode(big_emb, books).select("vec_id", "pq_code"),
                  "vec_id")
        )
        dec1 = materialize(ingest.build_decon_index(
            small_docs.where(F.col("doc_id") % 97 == 0), n=4
        ))
        dec10 = materialize(ingest.build_decon_index(
            docs11.where(F.col("doc_id") % 97 == 0), n=4
        ))
        # r13: the streamed classifier's static side is ONE coefs row —
        # corpus-size-independent index metadata by construction (the
        # graded derived model; a trained row has the same shape), so
        # the same frame serves every tier and its corpus_ratio
        # measures pure engine cost
        qcm = materialize(entry._derived_qc_model(spark))
        out["snapshot_build_s"] = round(time.perf_counter() - t0, 2)

        doc_schema = "doc_id long, text string"
        emb_schema = "vec_id long, embedding array<float>"

        def run_stream(df_fn, src, schema):
            best = None
            for _ in range(2):  # best-of-2: availableNow runs jitter
                ckpt = os.path.join(tmp, "ck_" + uuid.uuid4().hex[:12])
                name = "scale_ds_" + uuid.uuid4().hex[:12]
                stream = (
                    spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(src)
                )
                t0 = time.perf_counter()
                q = (
                    df_fn(stream)
                    .writeStream.format("memory").queryName(name)
                    .outputMode("append")
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination(600)
                dt = time.perf_counter() - t0
                n = spark.table(name).count()
                spark.catalog.dropTempView(name)
                best = dt if best is None or dt < best else best
            return round(best, 2), n

        res: dict = {}
        configs = [
            ("base", "docs1", "emb1", fp1, idx1, dec1, cents1, asg1,
             codes1),
            ("corpus10x", "docs1", "emb1", fp10, idx10, dec10, cents10,
             asg10, codes10),
            ("arr10x_corpus10x", "docs10", "emb10", fp10, idx10, dec10,
             cents10, asg10, codes10),
        ]
        for cname, dsrc, esrc, fpdf, idx, dec, cents, asg, codes in configs:
            t_store, n_store = run_stream(
                lambda s, _fp=fpdf: ingest.dedup_against_store(s, _fp)
                .select("doc_id"),
                paths[dsrc], doc_schema,
            )
            t_ann, n_ann = run_stream(
                lambda s, _ix=idx: ingest.ann_topk_stream(s, _ix, k=5),
                paths[esrc], emb_schema,
            )
            t_dec, n_dec = run_stream(
                lambda s, _dc=dec: ingest.decontaminate_stream(s, _dc, n=4),
                paths[dsrc], doc_schema,
            )
            t_iserve, n_iserve = run_stream(
                lambda s, _a=asg, _c=cents: sim.ivf_topk(
                    _a, s, k=5, nprobe=4, centroids=_c, corpus_assign=_a
                ),
                paths[esrc], emb_schema,
            )
            t_pqserve, n_pqserve = run_stream(
                lambda s, _a=asg, _cd=codes, _c=cents: sim.ivfpq_topk(
                    _a, s, books, k=5, nprobe=4, corpus_codes=_cd,
                    centroids=_c, corpus_assign=_a,
                ),
                paths[esrc], emb_schema,
            )
            t_clf, n_clf = run_stream(
                lambda s: sel.quality_scores(s, qcm).select("doc_id"),
                paths[dsrc], doc_schema,
            )
            res[cname] = {
                "store_s": t_store, "store_rows": int(n_store),
                "ann_s": t_ann, "ann_rows": int(n_ann),
                "decon_s": t_dec, "decon_rows": int(n_dec),
                "iserve_s": t_iserve, "iserve_rows": int(n_iserve),
                "pqserve_s": t_pqserve, "pqserve_rows": int(n_pqserve),
                "clf_s": t_clf, "clf_rows": int(n_clf),
            }
            print(f"# decon_stream_10x[{cname}]: store {t_store:.2f}s "
                  f"({n_store} rows), ann {t_ann:.2f}s ({n_ann} rows), "
                  f"decon {t_dec:.2f}s ({n_dec} rows), "
                  f"iserve {t_iserve:.2f}s ({n_iserve} rows), "
                  f"pqserve {t_pqserve:.2f}s ({n_pqserve} rows), "
                  f"clf {t_clf:.2f}s ({n_clf} rows)",
                  file=sys.stderr)
        for part in ("store", "ann", "decon", "iserve", "pqserve", "clf"):
            res[f"{part}_corpus_ratio"] = round(
                res["corpus10x"][f"{part}_s"] / res["base"][f"{part}_s"], 2
            )
            res[f"{part}_arrival_ratio"] = round(
                res["arr10x_corpus10x"][f"{part}_s"]
                / res["corpus10x"][f"{part}_s"], 2
            )
        res["claim"] = (
            "per-micro-batch cost scales with ARRIVALS, not corpus "
            "history: corpus_ratio << 10 for store/decon (narrow static "
            "sides); ann's and iserve's corpus_ratios include the "
            "by-construction candidates-per-bucket/cell growth of any "
            "bucketed join (10x corpus => 10x rows per cell at fixed "
            "n_centroids — production raises n_centroids with the "
            "corpus, which the cid-partitioned store supports). "
            "decon's HIGHER arrival_ratio is root-caused (r12, VERDICT "
            "r11 Next #4): a gram-explode-only variant (no join, no "
            "dedup, no index at all) measures ~4.1x at 10x arrivals — "
            "the per-arrival tokenize->4-gram->md5 work is ~2 orders "
            "heavier per doc than the store part's single fingerprint, "
            "so arrivals dominate fixed per-batch overhead sooner; the "
            "static index broadcast is constant and nothing is rebuilt "
            "per batch. Arrival-linear IS the expected direction; the "
            "r12 partition-local dedup (replacing the keyed state "
            "store) cut the part's absolute time at both scales."
        )
        out.update(res)
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def ivfpq_grow_scale(spark):
    """r13: scale evidence for the graded growth loop (decon_stream
    parts 'ivf_grow'/'ivfpq_grow') — appending a FIXED arrival slice
    into a codes-only cell store must cost the SAME whether the store
    already holds 1x or ~11x history: append_ivfpq_store touches only
    the arrivals (assign + encode + one narrow cid-partitioned write);
    the existing cells are never read, which is the whole point of the
    no-reindex crawl recipe. Compaction is corpus-linear BY DESIGN (it
    IS the rewrite) — timed at both tiers for honesty, not claimed
    sublinear; the recipe's answer to compaction cost is scheduling
    (compact per maintenance window, not per append)."""
    import os
    import shutil as sh
    import tempfile

    from pyspark.sql import functions as F

    from wingfoil_spark.functions import similarity as sim
    from wingfoil_spark.sources.tables import load_table

    tmp = tempfile.mkdtemp(prefix="wf_grow_scale_")
    try:
        small = load_table(spark, SMALL, "embeddings")
        big = load_table(spark, BIG, "embeddings")  # 10x replicas incl. originals
        arrivals = materialize(small.where(F.col("vec_id") % 7 == 3))
        books = sim.pq_train(small, m=8, k=16, fit="take")
        cents = materialize(sim.ivf_centroids(small, 16, fit="take"))
        base1 = small.where(F.col("vec_id") % 7 != 3)
        p1 = os.path.join(tmp, "store1")
        p11 = os.path.join(tmp, "store11")
        sim.write_ivfpq_store(base1, p1, books, centroids=cents)
        sim.write_ivfpq_store(
            base1.unionByName(big), p11, books, centroids=cents
        )

        def t_append(path):
            # appends mutate the store — each timed run gets a fresh copy
            best = None
            for _ in range(3):
                cp = path + "_run"
                sh.copytree(path, cp)
                t0 = time.perf_counter()
                sim.append_ivfpq_store(arrivals, cp, cents, books)
                dt = time.perf_counter() - t0
                sh.rmtree(cp, ignore_errors=True)
                best = dt if best is None or dt < best else best
            return best

        a1, a11 = t_append(p1), t_append(p11)
        t0 = time.perf_counter()
        n1 = sim.compact_cell_store(spark, p1)
        c1 = time.perf_counter() - t0
        t0 = time.perf_counter()
        n11 = sim.compact_cell_store(spark, p11)
        c11 = time.perf_counter() - t0
        out = {
            "append_s_1x": round(a1, 2),
            "append_s_11x": round(a11, 2),
            "append_store_ratio": round(a11 / a1, 2),
            "compact_s_1x": round(c1, 2),
            "compact_s_11x": round(c11, 2),
            "compact_rows_1x": int(n1),
            "compact_rows_11x": int(n11),
            "claim": (
                "append cost is FLAT in store size (arrivals-only "
                "work): append_store_ratio ~1 while the store holds "
                "~12x the rows; compaction is the rewrite and scales "
                "with the store by design"
            ),
        }
        print(
            f"# ivfpq_grow_scale: append {a1:.2f}s@1x vs {a11:.2f}s@11x "
            f"(ratio {a11 / a1:.2f}), compact {c1:.2f}s/{n1} rows@1x vs "
            f"{c11:.2f}s/{n11} rows@11x",
            file=sys.stderr,
        )
        return out
    finally:
        sh.rmtree(tmp, ignore_errors=True)


def ann_fixed_probes(spark, sf_dir):
    """ANN with a scale-FIXED probe set (40 probes from the original id
    range at both scales): exact + IVF tiers, corpus-linear cost; r9
    adds the int8 storage tier (quantize→dequantize corpus, checkpointed
    exactly like the graded query); r10 adds the PERSISTED store round
    trip (write_ivf_store at writers_per_cell=2 — the salted-writer
    scale path — then ivf_topk_from_store under dynamic partition
    pruning), so the on-disk layout's write-linear / read-pruned claims
    carry scale evidence too."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from wingfoil_spark.functions import similarity as sim
    from wingfoil_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.where((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000))
    exact = sim.cosine_topk(e, probes, k=5)
    ivf = sim.ivf_topk(e, probes, k=5, n_centroids=16, nprobe=4, fit="take")
    q8 = materialize(sim.dequantize_embeddings(
        sim.quantize_embeddings(e).select("vec_id", "q_embedding", "q_scale")
    ).select("vec_id", "embedding"))
    int8 = sim.cosine_topk(q8, probes, k=5)
    store = os.path.join(
        tempfile.gettempdir(),
        "wingfoil_scale_ivf_store_%s_%s" % (
            spark.sparkContext.applicationId,
            os.path.basename(sf_dir.rstrip("/")),
        ),
    )
    # ADVICE r10-low: these per-(app, sf) directories were never removed
    # (and not matched by any sweep) — one leaked store per sf tier per
    # invocation. Removed at process exit; can't be a finally here
    # because the RETURNED frame is lazy and read after this returns.
    entry._register_store_cleanup(store)
    cents = sim.write_ivf_store(
        e, store, n_centroids=16, fit="take", writers_per_cell=2
    )
    ivfs = sim.ivf_topk_from_store(spark, store, cents, probes, k=5, nprobe=4)
    return (
        exact.withColumn("method", F.lit("exact"))
        .unionByName(ivf.withColumn("method", F.lit("ivf")))
        .unionByName(int8.withColumn("method", F.lit("int8")))
        .unionByName(ivfs.withColumn("method", F.lit("ivf_store")))
    )


def timed(fn, spark, sf_dir) -> float:
    from bench import _steal_jiffies

    best = fallback = None
    runs = stolen_retries = 0
    # best-of-3 minimum with bench.py's steal policy: the host's steal
    # bursts can inflate any run 2-5x — on a ratio check that reads as a
    # phantom superlinear query (observed: the same jaccard big tier
    # measured 32.9s then 7.3s back-to-back). A run whose steal delta
    # exceeds 5% of window capacity doesn't count toward the 3.
    while runs < 3 and stolen_retries <= 4:
        s0 = _steal_jiffies()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        if _steal_jiffies() - s0 > max(3, 160 * dt) and (best is None or dt > best):
            stolen_retries += 1
            fallback = dt if fallback is None or dt < fallback else fallback
            continue
        runs += 1
        best = dt if best is None or dt < best else best
    return best if best is not None else fallback


#: r14 keep/merge audit of every decon_stream union part (VERDICT r13
#: Next #5 — "an explicit keep/merge decision per part"). A part is
#: kept iff it pins a code path, source kind, or contract no other part
#: reaches; 'ivfpq_store' failed that test and was merged.
DECON_STREAM_PART_DECISIONS = {
    "decon": "keep — the only decontamination arm (gram semi-join, "
             "batch-local first-seen)",
    "dsir": "keep — frozen-λ importance scorer, streamed",
    "bm25": "keep — frozen-stats BM25 scorer, streamed",
    "lm": "keep — bigram-LM scorer with per-doc (n,Σlp) merge — the only "
          "part with a stateful per-key micro-batch merge",
    "clf": "keep — the trained-classifier serving path (completes the "
           "frozen-model streaming matrix)",
    "ann": "keep — the only STREAMED LSH serving path (stream-static "
           "bucket join); lsh_mp/lsh_t are batch-side and different "
           "functions",
    "store": "keep — the only persisted-history anti-join (ever-"
             "ingested gate)",
    "recall": "keep — the only metric-op grade, computed from the "
              "stream's own emitted rows",
    "ivf_serve": "keep — the only streamed IVF serving path "
                 "(row-local cell pick + cid join)",
    "ivfpq_serve": "keep — the only streamed ADC serving path",
    "ivfpq_store": "MERGED into ivfpq_grow (r14) — same writer "
                   "(input filter differs only), same server, same "
                   "oracle rows (append==rebuild); pinned nothing the "
                   "four-stage loop doesn't while costing a full-corpus "
                   "store write + ADC serve per grading run",
    "ivf_grow": "keep — the only FLOAT-cell store round trip "
                "(write/append/compact/ivf_topk_from_store); the codes "
                "loop never touches the float layout",
    "ivfpq_grow": "keep — the codes-only growth loop (re-assign + "
                  "re-encode append, compaction, ADC serve) — now also "
                  "carries the non-grown round trip's scope",
    "poll": "keep — the only Python-DataSource source kind (own "
            "availableNow query by documented necessity)",
    "ivf_lloyd": "keep — the only SQL-replayed k-means fit grade",
    "lsh_mp": "keep — pins lsh_bucketed_topk(probe_hamming=1), the "
              "single-table dial setting (lsh_t grades n_tables=4); "
              "also the amplification axis cosine_near_dups shares",
    "lsh_t": "keep — multi-table axis + the only cross-table pair-dedup "
             "contract",
    "rerank": "NEW (r14) — the part budget freed by the ivfpq_store "
              "merge, spent on the round's new capability: exact "
              "re-rank of the ADC shortlist (ivfpq_rerank_topk), the "
              "only two-stage quantized-candidates/exact-scoring grade",
    "refit": "NEW (r14) — the only refit_cell_store grade (drift stage:"
             " lloyd re-fit on store contents + full re-assignment + "
             "atomic swap + sidecar turnover, served via DPP); shares "
             "ivf_lloyd's llivf oracle by rebuild equivalence but "
             "reaches it through the store lifecycle code path that "
             "oracle never touches (~2s stage wall, rides the grown "
             "ivf_grow store so no extra store build)",
}


def decon_stream_part_walls(spark):
    """r14 (VERDICT r13 Next #5): the decon_stream slot's grading cost,
    stage by stage — captured from entry.PART_WALLS (the graded function
    marks its own stage boundaries; the nine streamed union parts share
    ONE query by design, and their standalone per-part costs are the
    decon_stream_scale A/B timings in this same artifact). Since the
    r14 overlap optimizations the stages RUN CONCURRENTLY — the
    snapshot/fixture chains share one pool and the poll query + batch
    chains run under the file-union stream — so stage walls overlap in
    time and no longer sum to 'total'. The final noop write
    materializes the lazy batch-side assembly (recall join + the
    part-row projections over checkpointed frames)."""
    t0 = time.perf_counter()
    df = entry.queries()["decon_stream"](spark, SMALL)
    walls = dict(entry.PART_WALLS)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    walls["assemble_and_materialize"] = round(time.perf_counter() - t1, 3)
    walls["total"] = round(time.perf_counter() - t0, 3)
    return {
        "sf_dir": SMALL,
        "stage_walls": walls,
        "part_decisions": DECON_STREAM_PART_DECISIONS,
    }


def main() -> None:
    spark = get_spark("wingfoil_scale_check")
    t0 = time.perf_counter()
    build_big(spark)
    print(f"# sf1-equivalent build: {time.perf_counter() - t0:.1f}s",
          file=sys.stderr)
    t0 = time.perf_counter()
    build_big(spark, BIG30, REPL30, tables=("events", "embeddings",
                                            "documents"))
    print(f"# sf3-equivalent (30x) build: {time.perf_counter() - t0:.1f}s",
          file=sys.stderr)

    qs = entry.queries()
    runs = [(name, qs[name]) for name in QUERIES] + [("ann_fixed", ann_fixed_probes)]
    out = {}
    superlinear = []
    for name, fn in runs:
        t_small = timed(fn, spark, SMALL)
        t_big = timed(fn, spark, BIG)
        ratio = t_big / t_small
        out[name] = {
            "t_small": round(t_small, 3),
            "t_big": round(t_big, 3),
            "ratio": round(ratio, 2),
        }
        flag = " SUPERLINEAR" if ratio > REPL * SLACK else ""
        if flag:
            superlinear.append(name)
        print(f"# {name}: {t_small:.2f}s -> {t_big:.2f}s ({ratio:.1f}x){flag}",
              file=sys.stderr)

    # 30x tier: the three worst r3 ratios, one more decade of headroom
    out30 = {}
    runs30 = [(n, qs[n]) for n in QUERIES_30X] + [("ann_fixed", ann_fixed_probes)]
    for name, fn in runs30:
        t_small = out.get(name, {}).get("t_small") or timed(fn, spark, SMALL)
        t_big = timed(fn, spark, BIG30)
        ratio = t_big / t_small
        out30[name] = {
            "t_small": round(t_small, 3),
            "t_big": round(t_big, 3),
            "ratio": round(ratio, 2),
        }
        flag = " SUPERLINEAR" if ratio > REPL30 * SLACK else ""
        if flag:
            superlinear.append(f"{name}@30x")
        print(f"# {name}@30x: {t_small:.2f}s -> {t_big:.2f}s ({ratio:.1f}x){flag}",
              file=sys.stderr)
    result = {
        "metric": "scale_check_sf0.1_to_sf1eq",
        "replication": REPL,
        "slack": SLACK,
        "queries": out,
        "replication_30x": REPL30,
        "queries_30x": out30,
        "superlinear": superlinear,
        "selection_branches": selection_branches(spark),
        "semdedup_cap_10x": semdedup_cap_10x(spark),
        "decon_stream_10x": decon_stream_scale(spark),
        "decon_stream_part_walls": decon_stream_part_walls(spark),
        "ivfpq_grow_scale": ivfpq_grow_scale(spark),
        "refit_scale": refit_scale(spark),
    }

    if os.environ.get("SPARK_GRAFT_SCALE100") == "1":
        t0 = time.perf_counter()
        build_big(spark, BIG100, REPL100,
                  tables=("documents", "embeddings", "events"))
        print(f"# sf10-equivalent (100x) build: {time.perf_counter() - t0:.1f}s",
              file=sys.stderr)
        out100 = {}
        runs100 = [(n, qs[n]) for n in QUERIES_100X] + [("ann_fixed", ann_fixed_probes)]
        for name, fn in runs100:
            t_small = (out.get(name, {}).get("t_small")
                       or timed(fn, spark, SMALL))
            t_big = timed(fn, spark, BIG100)
            ratio = t_big / t_small
            out100[name] = {
                "t_small": round(t_small, 3),
                "t_big": round(t_big, 3),
                "ratio": round(ratio, 2),
            }
            flag = " SUPERLINEAR" if ratio > REPL100 * SLACK else ""
            if flag:
                superlinear.append(f"{name}@100x")
            print(f"# {name}@100x: {t_small:.2f}s -> {t_big:.2f}s "
                  f"({ratio:.1f}x){flag}", file=sys.stderr)
        result["replication_100x"] = REPL100
        result["queries_100x"] = out100
        result["semdedup_cap_100x"] = semdedup_cap_100x(spark)
        result["superlinear"] = superlinear

    print(json.dumps(result))
    sys.exit(1 if superlinear else 0)


if __name__ == "__main__":
    main()


def ivfpq_rerank_scale(spark):
    """r14: scale evidence for the new rerank tier (decon_stream
    part='rerank', similarity.ivfpq_rerank_topk) in its debut round —
    the claim under test is the 100 TB posture in the docstring: the
    ADC stage is candidate-bounded (corpus/n_centroids × nprobe rows
    per probe, codes only) and the exact stage reads probes × shortlist
    float rows through an id equi-join, so a 10x corpus should cost
    ~10x in the ADC scan (it IS a scan of the probed cells' codes) and
    the float-lookup stage should scale with the SHORTLIST, not the
    corpus. Measured as the full two-stage wall at 1x and ~11x on a
    FIXED probe set (the 1x probes — a growing probe set would measure
    probe count, not corpus scaling)."""
    from pyspark.sql import functions as F

    from wingfoil_spark.functions import similarity as sim
    from wingfoil_spark.sources.tables import load_table

    small = load_table(spark, SMALL, "embeddings")
    big11 = small.unionByName(
        load_table(spark, BIG, "embeddings")
    )  # originals + 10x replicas
    probes = materialize(small.where(F.col("vec_id") % 50 == 0))
    out = {}
    for tag, corpus in (("base", small), ("corpus11x", big11)):
        books = sim.pq_train(corpus, m=8, k=16, fit="take")
        cents = materialize(sim.ivf_centroids(corpus, 16, fit="take"))
        t0 = time.perf_counter()
        asg = materialize(sim.ivf_assign(corpus, cents, 1))
        codes = materialize(sim.pq_encode(corpus, books).select(
            "vec_id", "pq_code"
        ))
        build = time.perf_counter() - t0
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            sim.ivfpq_rerank_topk(
                corpus, probes, books, k=5, shortlist=50, nprobe=4,
                corpus_codes=codes, centroids=cents, corpus_assign=asg,
            ).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        out[tag] = {
            "build_assign_encode_s": round(build, 3),
            "search_s": round(best, 3),
        }
    out["search_ratio_11x"] = round(
        out["corpus11x"]["search_s"] / out["base"]["search_s"], 2
    )
    out["claim"] = (
        "search ratio at 11x corpus (fixed probes) stays well under 11 "
        "because only the ADC candidate scan grows with the corpus; the "
        "exact stage is shortlist-bounded. The build column is the "
        "one-time index cost (assign + encode), corpus-linear by design."
    )
    return out


def refit_scale(spark):
    """r14: scale evidence for refit_cell_store (the drift stage). Two
    claims from the docstring, measured at 1x and ~11x store size on
    the float layout: (1) the refit wall tracks the COMPACTION wall
    (it is the same one-scan cell-partitioned rewrite — corpus-linear
    by design, priced like the maintenance op it replaces on the
    schedule), and (2) the fit overhead on top is FLAT (the lloyd
    sample is a bounded 512-row id-ordered pull regardless of store
    size). Refits mutate the store, so each timed run gets a fresh
    copy, best-of-3."""
    import os
    import shutil as sh
    import tempfile

    from pyspark.sql import functions as F  # noqa: F401 (parity w/ peers)

    from wingfoil_spark.functions import similarity as sim
    from wingfoil_spark.sources.tables import load_table

    tmp = tempfile.mkdtemp(prefix="wf_refit_scale_")
    try:
        small = load_table(spark, SMALL, "embeddings")
        big = load_table(spark, BIG, "embeddings")  # 10x replicas
        p1 = os.path.join(tmp, "store1")
        p11 = os.path.join(tmp, "store11")
        sim.write_ivf_store(small, p1, n_centroids=16, fit="take")
        sim.write_ivf_store(
            small.unionByName(big), p11, n_centroids=16, fit="take"
        )

        def best_of(fn, path, n=3):
            best = None
            for _ in range(n):
                cp = path + "_run"
                sh.copytree(path, cp)
                t0 = time.perf_counter()
                fn(cp)
                dt = time.perf_counter() - t0
                sh.rmtree(cp, ignore_errors=True)
                best = dt if best is None or dt < best else best
            return best

        # untimed warm-up: the first refit of a session pays JVM/Arrow/
        # broadcast warm-up (~6s observed) that would land entirely on
        # whichever tier runs first and invert the ratio
        best_of(
            lambda p: sim.refit_cell_store(spark, p, 16, fit="lloyd"),
            p1, n=1,
        )
        r1 = best_of(
            lambda p: sim.refit_cell_store(spark, p, 16, fit="lloyd"), p1
        )
        r11 = best_of(
            lambda p: sim.refit_cell_store(spark, p, 16, fit="lloyd"), p11
        )
        c1 = best_of(lambda p: sim.compact_cell_store(spark, p), p1)
        c11 = best_of(lambda p: sim.compact_cell_store(spark, p), p11)
        out = {
            "refit_s_1x": round(r1, 2),
            "refit_s_11x": round(r11, 2),
            "refit_ratio": round(r11 / r1, 2),
            "compact_s_1x": round(c1, 2),
            "compact_s_11x": round(c11, 2),
            "fit_overhead_s_1x": round(r1 - c1, 2),
            "fit_overhead_s_11x": round(r11 - c11, 2),
            "claim": (
                "refit is compaction-priced: its wall tracks the "
                "compactor's at both tiers (same one-scan rewrite, plus "
                "a ROW-LOCAL re-assignment — no shuffle, no window) and "
                "the fit overhead on top is FLAT in store size (bounded "
                "512-row sample pull + metadata persistence) — the "
                "maintenance schedule that absorbs a compaction absorbs "
                "a refit"
            ),
        }
        print(
            f"# refit_scale: refit {r1:.2f}s@1x vs {r11:.2f}s@11x "
            f"(ratio {r11 / r1:.2f}); compact {c1:.2f}/{c11:.2f}s; "
            f"fit overhead {r1 - c1:.2f}/{r11 - c11:.2f}s",
            file=sys.stderr,
        )
        return out
    finally:
        sh.rmtree(tmp, ignore_errors=True)
