#!/usr/bin/env python3
"""Vector store — the similarity-search tier end to end at toy scale.

The 100 TB embedding-store recipe this engine implements (no binding
twin — the reference's augurs/market tiers don't cover vectors):

1. WRITE path: int8-quantize the float vectors (4× smaller scans) and
   PQ-encode them (m smallint codes/vector, 16-32× smaller) — at scale
   the codes + the int8 column ARE the stored corpus; floats drop.
2. INDEX path: coarse IVF centroids (cells bound WHICH rows a probe
   scans) and a hyperplane-LSH bucket index (the streaming-serving
   index).
3. READ paths, recall-vs-cost dial: exact brute force (the oracle),
   int8-reconstructed exact (storage-tier accuracy), IVF-flat, PQ-ADC,
   IVF-PQ (the billion-vector composition), all sharing ONE corpus
   assignment via the r9 ``centroids=``/``corpus_assign=`` hooks.
4. SERVING path: `ann_topk_stream` answers ARRIVING probes against the
   frozen bucket index (`build_ann_index`, the same index and probe
   builders as the batch `lsh_bucketed_topk`; stream-static join, zero
   standing state).
5. CURATION path: SemDeDup prunes semantic near-duplicates from the
   same assignment frame (assign once, prune per threshold/cap).

    python examples/vector_store.py
"""

import pathlib
import random
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F

import wingfoil_spark as wf
from wingfoil_spark.functions import selection as sel
from wingfoil_spark.functions import similarity as sim
from wingfoil_spark.session import materialize

spark = wf.get_spark("vector_store", cpus=4)

# a toy corpus: 3 planted clusters in 16-d, plus a planted near-duplicate
rng = random.Random(7)
centers = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(3)]
rows = []
for i in range(240):
    c = centers[i % 3]
    rows.append((i, [x + rng.gauss(0, 0.05) for x in c]))
rows.append((240, [x + 1e-4 for x in rows[0][1]]))  # near-dup of vec 0
corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
probes = corpus.where(F.col("vec_id") % 60 == 0)

# 1. WRITE path — int8 + PQ codes (what a 100 TB store persists)
q8 = materialize(sim.dequantize_embeddings(
    sim.quantize_embeddings(corpus).select("vec_id", "q_embedding", "q_scale")
).select("vec_id", "embedding"))
books = sim.pq_train(corpus, m=4, k=16, fit="take")
codes = materialize(sim.pq_encode(corpus, books).select("vec_id", "pq_code"))

# 2. INDEX path — one coarse fit + ONE corpus assignment, shared by
# every centroid consumer below (the r9 corpus_assign= pattern)
cents = sim.ivf_centroids(corpus, n_centroids=4, fit="take")
assign = materialize(sel.semdedup_assign(
    corpus, n_clusters=4, fit="take", centroids=cents
))

# 3. READ paths — same probe, five tiers
exact = sim.cosine_topk(corpus, probes, k=3)
int8 = sim.cosine_topk(q8, probes, k=3)
ivf = sim.ivf_topk(corpus, probes, k=3, n_centroids=4, nprobe=2,
                   fit="take", centroids=cents, corpus_assign=assign)
pq = sim.pq_topk(codes, probes, books, k=3)
ivfpq = sim.ivfpq_topk(corpus, probes, books, k=3, n_centroids=4, nprobe=2,
                       fit="take", corpus_codes=codes,
                       centroids=cents, corpus_assign=assign)

top_exact = {(r.probe_id, r.rank): r.neighbor_id for r in exact.collect()}
top_int8 = {(r.probe_id, r.rank): r.neighbor_id for r in int8.collect()}
# the planted near-dup is every tier's rank-1 for probe 0
assert top_exact[(0, 1)] == 240, top_exact
assert top_int8[(0, 1)] == 240, "int8 reconstruction must keep direction"
agree = sum(top_exact[k] == top_int8[k] for k in top_exact) / len(top_exact)
print(f"int8 vs exact rank agreement: {agree:.2f}")
assert agree >= 0.8, "8 bits preserve ranking on separated clusters"
for name, df in [("ivf", ivf), ("pq", pq), ("ivfpq", ivfpq)]:
    got = {(r.probe_id, r.rank): r.neighbor_id for r in df.collect()}
    assert got[(0, 1)] == 240, (name, got)
    print(f"{name}: rank-1 near-dup recovered for probe 0")

# 4. SERVING path — arriving probes vs the frozen bucket index
from wingfoil_spark.streaming import ingest

index = materialize(ingest.build_ann_index(corpus))
served = ingest.ann_topk_stream(probes, index, k=3)  # batch or streamed probes
got = {(r.probe_id, r.rank): r.neighbor_id for r in served.collect()}
assert got[(0, 1)] == 240, got
print("streaming-serving index: rank-1 near-dup recovered")

# 4a. the LSH recall dial, bits x n_tables x probe_hamming in one
# function: per-table Hamming-1 multi-probe and L independent plane
# tables compose — recall can only widen (structural: every dial step
# probes a superset of buckets)
mp = sim.lsh_bucketed_topk(corpus, probes, k=3, probe_hamming=1)
tables = sim.lsh_bucketed_topk(corpus, probes, k=3, n_tables=4,
                               probe_hamming=1)
n_single = sim.lsh_bucketed_topk(corpus, probes, k=3).count()
n_mp, n_tables_rows = mp.count(), tables.count()
assert n_single <= n_mp <= n_tables_rows, (n_single, n_mp, n_tables_rows)
print(f"lsh dial coverage: 1 bucket {n_single} rows -> multiprobe "
      f"{n_mp} -> 4 tables x multiprobe {n_tables_rows}")

# 4b. PERSISTED store — the write-once/search-many disk layout: IVF
# cells as parquet directories (searches read nprobe directories via
# dynamic partition pruning), and the IVF-PQ variant with the float
# column dropped at write time
import shutil
import tempfile

store_dir = tempfile.mkdtemp(prefix="wf_vector_store_")
try:
    cents_s = sim.write_ivf_store(corpus, store_dir + "/ivf", n_centroids=4, fit="take")
    got = {(r.probe_id, r.rank): r.neighbor_id
           for r in sim.ivf_topk_from_store(spark, store_dir + "/ivf",
                                            cents_s, probes, k=3, nprobe=2).collect()}
    assert got[(0, 1)] == 240, got
    cents_pq = sim.write_ivfpq_store(corpus, store_dir + "/ivfpq", books,
                                     n_centroids=4, fit="take")
    got = {(r.probe_id, r.rank): r.neighbor_id
           for r in sim.ivfpq_topk_from_store(spark, store_dir + "/ivfpq",
                                              cents_pq, books, probes,
                                              k=3, nprobe=2).collect()}
    assert got[(0, 1)] == 240, got
    print("persisted ivf + ivfpq stores: rank-1 near-dup recovered")

    # the production serving composition FROM the store, self-described:
    # ADC shortlist over codes (no floats in the store) + exact re-rank
    # through a shortlist-bounded lookup into the float table — with
    # centroids/codebooks loaded from the store's own sidecar
    rr = {(r.probe_id, r.rank): r.neighbor_id
          for r in sim.ivfpq_rerank_from_store(
              spark, store_dir + "/ivfpq", corpus, probes,
              k=3, shortlist=10, nprobe=2).collect()}
    assert rr[(0, 1)] == 240, rr
    print("store-served ADC + exact re-rank (path-only metadata): "
          "rank-1 near-dup recovered")

    # 4c. recall@k — the metric every tier trades against cost: the
    # exhaustive-probe store search must recover the exact result
    # (exact top-3 was computed once at step 1; reuse it)
    full = sim.ivf_topk_from_store(spark, store_dir + "/ivf", cents_s,
                                   probes, k=3, nprobe=4)
    m = sim.recall_at_k(exact, full).agg(
        F.avg("recall").alias("m")).collect()[0].m
    assert m == 1.0, m
    print("recall@3 of the exhaustive-probe store search: 1.0")

    # 4d. INCREMENTAL growth (r11) — a crawl appends new vectors under
    # the FROZEN centroids: assign-and-append only the arrivals, no
    # reindex, no rewrite of existing cells; from-store search equals a
    # full rebuild. Here: rebuild the store WITHOUT the planted
    # near-dup, then append it — rank-1 comes back.
    sim.write_ivf_store(
        corpus.where(F.col("vec_id") != 240), store_dir + "/ivf_inc",
        centroids=cents_s,
        corpus_assign=sim.ivf_assign(
            corpus.where(F.col("vec_id") != 240), cents_s, 1
        ),
    )
    before = {(r.probe_id, r.rank): r.neighbor_id
              for r in sim.ivf_topk_from_store(
                  spark, store_dir + "/ivf_inc", cents_s, probes,
                  k=3, nprobe=2).collect()}
    assert before[(0, 1)] != 240
    sim.append_ivf_store(
        corpus.where(F.col("vec_id") == 240), store_dir + "/ivf_inc", cents_s
    )
    after = {(r.probe_id, r.rank): r.neighbor_id
             for r in sim.ivf_topk_from_store(
                 spark, store_dir + "/ivf_inc", cents_s, probes,
                 k=3, nprobe=2).collect()}
    assert after[(0, 1)] == 240, after
    print("incremental append: near-dup appended under frozen centroids, "
          "rank-1 recovered")

    # 4e. REFIT on drift (r14) — after enough appends the frozen
    # centroids stop tiling the data: re-fit + re-assign + atomic swap
    # in place. The sidecar digest turns over, so serving with the
    # STALE frame fails loudly instead of searching the wrong cells.
    cents_new = sim.refit_cell_store(spark, store_dir + "/ivf_inc",
                                     n_centroids=4, fit="lloyd")
    # the store is SELF-DESCRIBING: centroids=None loads the frame the
    # refit just persisted in the sidecar — serving needs only the path
    refit = {(r.probe_id, r.rank): r.neighbor_id
             for r in sim.ivf_topk_from_store(
                 spark, store_dir + "/ivf_inc", None, probes,
                 k=3, nprobe=4).collect()}
    assert refit[(0, 1)] == 240, refit
    try:
        sim.ivf_topk_from_store(spark, store_dir + "/ivf_inc", cents_s,
                                probes, k=3, nprobe=2)
        raise AssertionError("stale centroid frame was not refused")
    except ValueError as e:
        assert "does not match the store" in str(e)
    print("refit on drift: store re-tiled in place; stale centroid "
          "frame refused by the metadata sidecar")

    # 4f. DELETE + the maintenance dashboard (r14): take down the
    # planted near-dup by id (anti-join rewrite, sidecar carried), then
    # read the store's health numbers — the operator loop is
    # describe → (compact | refit | delete) → serve
    n_del = sim.delete_from_cell_store(spark, store_dir + "/ivf_inc",
                                       [240])
    assert n_del == 1, n_del
    gone = {(r.probe_id, r.rank): r.neighbor_id
            for r in sim.ivf_topk_from_store(
                spark, store_dir + "/ivf_inc", None, probes,
                k=3, nprobe=4).collect()}
    assert gone[(0, 1)] != 240, gone
    health = sim.describe_cell_store(spark, store_dir + "/ivf_inc")
    assert health["self_describing"] and health["n_rows"] > 0
    print(f"delete + describe: near-dup removed ({n_del} row), store "
          f"healthy — {health['n_rows']} rows / {health['n_cells']} "
          f"cells, skew {health['cell_skew_max_over_mean']}")
finally:
    shutil.rmtree(store_dir, ignore_errors=True)

# 5. CURATION path — SemDeDup from the SAME assignment frame
pruned = sel.semdedup_prune(assign, threshold=0.999)
kept = {r.vec_id for r in pruned.where("keep").collect()}
dropped = {r.vec_id for r in pruned.where("NOT keep").collect()}
assert (0 in dropped) != (240 in dropped), "exactly one of the near-dup pair survives"
print(f"semdedup: {len(kept)} kept, {len(dropped)} pruned (near-dup collapsed)")

print("vector_store example OK")
