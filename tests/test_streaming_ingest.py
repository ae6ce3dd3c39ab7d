"""Streaming-ingest tier (streaming/ingest.py): the continuous-crawl shape
of the LLM-pipeline operators, differentially tested against their batch
twins (the run-mode duality discipline of runtime/run.rs:16-29 applied to
the north-star extension surface).

Harness pattern matches test_streaming_duality: file source with
maxFilesPerTrigger=1 (deterministic micro-batch boundaries) → memory sink
→ availableNow trigger."""

import os
import shutil
import tempfile
import time

import pyspark.sql.functions as F
import pytest

from wingfoil_spark.functions import dedup as dd
from wingfoil_spark.functions import text as tx
from wingfoil_spark.sources.tables import load_table
from wingfoil_spark.streaming import ingest

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _stream_chunks(spark, pdf, n_chunks=3, schema=DOC_SCHEMA):
    """Write pdf as n time-ordered parquet chunks, return (stream_df, dir)."""
    src_dir = tempfile.mkdtemp(prefix="wf_ingest_src_")
    n = len(pdf)
    bounds = [round(i * n / n_chunks) for i in range(n_chunks + 1)]
    for i in range(n_chunks):
        chunk = pdf.iloc[bounds[i]:bounds[i + 1]]
        path = os.path.join(src_dir, f"chunk-{i:03d}.parquet")
        chunk.to_parquet(path, index=False)
        os.utime(path, (time.time() + i, time.time() + i))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    return stream, src_dir


def _run_to_memory(out, name):
    session = out.sparkSession
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return session.sql(f"SELECT * FROM {name}")


def test_exact_dedup_stream_first_seen_wins(spark, docs):
    """Replaying the corpus in doc_id order through the stream keeps
    exactly the batch keep-set (batch keeps min doc_id per fingerprint;
    first-seen == min id on an id-ordered replay)."""
    pdf = docs.toPandas().sort_values("doc_id")
    stream, src_dir = _stream_chunks(spark, pdf)
    try:
        kept = _run_to_memory(
            ingest.exact_dedup_stream(stream), "ingest_dedup"
        ).toPandas()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)

    batch = dd.exact_dedup(docs).toPandas()
    assert sorted(kept["doc_id"]) == sorted(batch["keep_id"])
    # every emitted row carries its fingerprint; set matches batch's
    assert set(kept["fp"]) == set(batch["fp"])


def test_exact_dedup_stream_dedups_across_microbatches(spark):
    """A dup arriving in a LATER micro-batch is dropped — the state
    actually persists across triggers (not per-batch dropDuplicates)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6],
            "text": ["alpha beta", "gamma", "alpha  beta", "delta", "GAMMA", "epsilon"],
            "lang": ["en"] * 6,
            "source": ["web"] * 6,
            "n_chars": [10, 5, 11, 5, 5, 7],
        }
    )
    # chunks: [1,2] [3,4] [5,6] — 3 dups (whitespace-normalized, casefolded)
    stream, src_dir = _stream_chunks(spark, pdf, n_chunks=3)
    try:
        kept = _run_to_memory(
            ingest.exact_dedup_stream(stream), "ingest_dedup_x"
        ).toPandas()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
    assert sorted(kept["doc_id"]) == [1, 2, 4, 6]


def test_exact_dedup_stream_watermark_bounds_state(spark):
    """The watermark-bounded variant: dups within the watermark horizon
    are dropped; requires a ts column (ValueError otherwise — pinned)."""
    import datetime

    import pandas as pd

    base = datetime.datetime(2026, 1, 1)
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["alpha", "beta", "alpha", "gamma"],
            "lang": ["en"] * 4,
            "source": ["web"] * 4,
            "n_chars": [5, 4, 5, 5],
            "ts": pd.Series(
                [base + datetime.timedelta(minutes=m) for m in (0, 1, 2, 3)],
                dtype="datetime64[us]",  # micros — nanos parquet needs the
                # legacy nanosAsLong conf and a LONG schema
            ),
        }
    )
    with pytest.raises(ValueError):
        ingest.exact_dedup_stream(None, watermark="1 hour")

    stream, src_dir = _stream_chunks(
        spark, pdf, n_chunks=2, schema=DOC_SCHEMA + ", ts timestamp"
    )
    try:
        kept = _run_to_memory(
            ingest.exact_dedup_stream(stream, ts_col="ts", watermark="1 hour"),
            "ingest_dedup_wm",
        ).toPandas()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
    assert sorted(kept["doc_id"]) == [1, 2, 4]


def test_rowlocal_battery_stream_equals_batch(spark, docs):
    """Text battery + SimHash + MinHash signatures are stateless row-local
    projections: streaming output == batch output, value-exact."""
    def battery(df):
        t = F.col("text")
        feats = df.select(
            "doc_id",
            tx.token_count(t).alias("n_tokens"),
            tx.quality_score(t).alias("quality"),
            tx.lang_id(t).alias("lang_guess"),
            tx.fingerprint(t).alias("fp"),
        )
        return feats.join(dd.simhash32(df), "doc_id").join(
            dd.minhash_sig_array(df).select(
                "doc_id", F.col("__sig")[0].alias("mh0"), F.col("__sig")[127].alias("mh127")
            ),
            "doc_id",
        )

    pdf = docs.toPandas().sort_values("doc_id")
    stream, src_dir = _stream_chunks(spark, pdf)
    try:
        streamed = _run_to_memory(battery(stream), "ingest_battery").toPandas()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
    batch = battery(docs).toPandas()

    key = "doc_id"
    s = streamed.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(s) == len(b)
    for c in b.columns:
        assert s[c].tolist() == b[c].tolist(), c


def test_exact_dedup_stream_state_survives_restart(spark):
    """Checkpoint recovery: stop the dedup query after batch 1, start a
    NEW query from the same checkpoint over newly arrived files — a dup
    of a pre-restart doc is still dropped (the fingerprint state store
    rehydrates), and no pre-restart row is re-emitted (exactly-once)."""
    import pandas as pd

    src_dir = tempfile.mkdtemp(prefix="wf_ingest_ckpt_src_")
    ckpt = tempfile.mkdtemp(prefix="wf_ingest_ckpt_")
    out_dir = tempfile.mkdtemp(prefix="wf_ingest_ckpt_out_")
    try:
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": ["alpha beta", "gamma"],
                "lang": ["en"] * 2,
                "source": ["web"] * 2,
                "n_chars": [10, 5],
            }
        ).to_parquet(os.path.join(src_dir, "chunk-000.parquet"), index=False)

        def start():
            stream = (
                spark.readStream.schema(DOC_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
            )
            return (
                ingest.exact_dedup_stream(stream)
                .drop("fp")
                .writeStream.format("parquet")
                .option("path", out_dir)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        q = start()
        q.awaitTermination(120)
        first = spark.read.parquet(out_dir).toPandas()
        assert sorted(first["doc_id"]) == [1, 2]

        # arrival after the stop: one dup of doc 1, one genuinely new doc
        pd.DataFrame(
            {
                "doc_id": [3, 4],
                "text": ["ALPHA  beta", "delta"],  # 3 == fingerprint of 1
                "lang": ["en"] * 2,
                "source": ["web"] * 2,
                "n_chars": [11, 5],
            }
        ).to_parquet(os.path.join(src_dir, "chunk-001.parquet"), index=False)

        q2 = start()  # fresh query object, same checkpoint
        q2.awaitTermination(120)
        second = spark.read.parquet(out_dir).toPandas()
        # 3 deduped against PRE-restart state (fp of doc 1 rehydrated);
        # 1/2 not re-emitted (exactly-once file sink); 4 appended
        assert sorted(second["doc_id"]) == [1, 2, 4]
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)


def test_lsh_pairs_stream_matches_batch_restriction(spark, docs):
    """Arriving docs joined against the corpus index yield exactly the
    batch LSH pairs restricted to (corpus x arrivals), minus self-pairs.

    Split the corpus: first 80% = indexed snapshot, last 20% = arrivals.
    Batch truth: lsh_candidate_pairs over the FULL corpus, restricted to
    pairs with one side in each half (pairs within the arrival set are the
    next snapshot's job — the documented contract)."""
    pdf = docs.toPandas().sort_values("doc_id")
    cut = int(len(pdf) * 0.8)
    corpus_ids = set(pdf.iloc[:cut]["doc_id"])
    arrival_pdf = pdf.iloc[cut:]

    corpus_df = docs.where(F.col("doc_id").isin([int(x) for x in corpus_ids]))
    index = ingest.build_lsh_index(corpus_df)

    stream, src_dir = _stream_chunks(spark, arrival_pdf, n_chunks=2)
    try:
        got = _run_to_memory(
            ingest.lsh_pairs_stream(stream, index, corpus_df, verify=False),
            "ingest_pairs",
        ).toPandas()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)

    full = dd.lsh_candidate_pairs(dd.minhash_sig_array(docs)).toPandas()
    want = set()
    for a, b in zip(full["a"], full["b"]):
        if (a in corpus_ids) != (b in corpus_ids):
            corp = a if a in corpus_ids else b
            arr = b if a in corpus_ids else a
            want.add((corp, arr))
    assert set(zip(got["a"], got["b"])) == want


def test_ann_topk_stream_matches_batch_tier(spark, sf_dir):
    """Streaming probes against the static ANN index reproduce the batch
    lsh_bucketed_topk EXACTLY for the same probe set (same signature
    math, same 6dp-rounded ranking) — the online-retrieval duality."""
    from wingfoil_spark.functions import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % 40 == 0)
    batch = sim.lsh_bucketed_topk(emb, probes, k=5).toPandas()

    index = ingest.build_ann_index(emb)
    pdf = probes.select("vec_id", "embedding").toPandas()
    src_dir = tempfile.mkdtemp(prefix="wf_ann_stream_")
    try:
        n = len(pdf)
        for i in range(2):
            chunk = pdf.iloc[i * n // 2 : (i + 1) * n // 2]
            p = os.path.join(src_dir, f"c{i}.parquet")
            chunk.to_parquet(p, index=False)
            os.utime(p, (time.time() + i, time.time() + i))
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        got = _run_to_memory(
            ingest.ann_topk_stream(stream, index, k=5), "ann_stream"
        ).toPandas()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)

    key = ["probe_id", "rank"]
    g = got.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(g) == len(b)
    for c in ("probe_id", "neighbor_id", "rank"):
        assert g[c].tolist() == b[c].tolist(), c
    assert g["cosine"].tolist() == b["cosine"].tolist()


def test_ann_topk_stream_multiprobe_matches_batch(spark, sf_dir):
    """r13: the streamed Hamming-1 multi-probe dial ==
    lsh_bucketed_topk(probe_hamming=1) row-for-row, and it must find a
    strict superset of probes vs the exact-bucket stream (the recall
    lift is the point). Also guards the zero-state claim: no
    dropDuplicates-style keyed state is needed because a (probe,
    neighbor) pair joins at most once across the 9 probed buckets."""
    from wingfoil_spark.functions import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % 40 == 0)
    batch = sim.lsh_bucketed_topk(
        emb, probes, k=5, probe_hamming=1
    ).toPandas()
    single = sim.lsh_bucketed_topk(emb, probes, k=5).toPandas()
    assert len(batch) > len(single), "multi-probe must widen coverage"
    # no duplicate (probe, neighbor) pairs despite the 9-bucket explode
    assert not batch.duplicated(["probe_id", "neighbor_id"]).any()

    index = ingest.build_ann_index(emb)
    pdf = probes.select("vec_id", "embedding").toPandas()
    src_dir = tempfile.mkdtemp(prefix="wf_ann_mp_stream_")
    try:
        n = len(pdf)
        for i in range(2):
            chunk = pdf.iloc[i * n // 2 : (i + 1) * n // 2]
            p = os.path.join(src_dir, f"c{i}.parquet")
            chunk.to_parquet(p, index=False)
            os.utime(p, (time.time() + i, time.time() + i))
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        got = _run_to_memory(
            ingest.ann_topk_stream(stream, index, k=5, probe_hamming=1),
            "ann_mp_stream",
        ).toPandas()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
    key = ["probe_id", "rank"]
    g = got.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(g) == len(b)
    for c in ("probe_id", "neighbor_id", "rank"):
        assert g[c].tolist() == b[c].tolist(), c
    assert g["cosine"].tolist() == b["cosine"].tolist()


def test_ann_tables_topk_stream_matches_batch(spark, sf_dir):
    """r13: the streamed multi-TABLE serving path (4 tables × Hamming-1)
    == lsh_bucketed_topk(n_tables=4) row-for-row. Cross-table pair
    duplicates are REAL here; the shared running-top-k iterator's
    keep-each-pair-once contract must collapse them without any
    streaming dropDuplicates (zero standing state)."""
    from wingfoil_spark.functions import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % 40 == 0)
    batch = sim.lsh_bucketed_topk(
        emb, probes, k=5, n_tables=4, probe_hamming=1
    ).toPandas()

    index = ingest.build_ann_index(emb, n_tables=4)
    pdf = probes.select("vec_id", "embedding").toPandas()
    src_dir = tempfile.mkdtemp(prefix="wf_ann_t_stream_")
    try:
        n = len(pdf)
        for i in range(2):
            chunk = pdf.iloc[i * n // 2 : (i + 1) * n // 2]
            p = os.path.join(src_dir, f"c{i}.parquet")
            chunk.to_parquet(p, index=False)
            os.utime(p, (time.time() + i, time.time() + i))
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        got = _run_to_memory(
            ingest.ann_topk_stream(
                stream, index, k=5, n_tables=4, probe_hamming=1
            ),
            "ann_t_stream",
        ).toPandas()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
    key = ["probe_id", "rank"]
    g = got.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(g) == len(b)
    for c in ("probe_id", "neighbor_id", "rank"):
        assert g[c].tolist() == b[c].tolist(), c
    assert g["cosine"].tolist() == b["cosine"].tolist()


def test_ann_topk_stream_batch_size_invariant(spark, sf_dir):
    """r9 ADVICE-high regression: mapInPandas splits a partition into
    ~spark.sql.execution.arrow.maxRecordsPerBatch-row Arrow batches, so a
    per-batch groupby head(k) emits up to k rows per batch with ranks
    restarting at 1 whenever one probe's candidate set spans batches.
    Force 7-row batches (every realistic bucket spans several) and demand
    the stream still equals the batch tier row-for-row."""
    from wingfoil_spark.functions import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % 40 == 0)
    batch = sim.lsh_bucketed_topk(emb, probes, k=5).toPandas()
    index = ingest.build_ann_index(emb)

    pdf = probes.select("vec_id", "embedding").toPandas()
    src_dir = tempfile.mkdtemp(prefix="wf_ann_small_batch_")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        pdf.to_parquet(os.path.join(src_dir, "c0.parquet"), index=False)
        stream = spark.readStream.schema(
            "vec_id long, embedding array<float>"
        ).parquet(src_dir)
        got = _run_to_memory(
            ingest.ann_topk_stream(stream, index, k=5), "ann_small_batch"
        ).toPandas()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        shutil.rmtree(src_dir, ignore_errors=True)

    key = ["probe_id", "rank"]
    g = got.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(g) == len(b), f"{len(g)} stream rows vs {len(b)} batch"
    for c in ("probe_id", "neighbor_id", "rank"):
        assert g[c].tolist() == b[c].tolist(), c
    assert g["cosine"].tolist() == b["cosine"].tolist()


def test_lsh_pairs_stream_verify_matches_batch_jaccard(spark, docs):
    """verify=True attaches the exact n-gram Jaccard under the DOCUMENTED
    deployment: ``corpus`` is ONLY the pre-arrival snapshot (the frame the
    index was built from) — the arriving side's text comes from the
    stream itself. ADVICE r4 regression: the old b-side lookup joined
    arrivals against ``corpus`` and silently dropped every candidate when
    corpus excluded them (the old test masked it by handing the FULL
    corpus in). An exact-duplicate arrival guarantees a non-vacuous hit;
    values must match the batch verify stage."""
    pdf = docs.toPandas().sort_values("doc_id")
    cut = int(len(pdf) * 0.8)
    cut_id = int(pdf.iloc[cut]["doc_id"])
    corpus_pdf = pdf[pdf["doc_id"] < cut_id]
    corpus_df = docs.where(F.col("doc_id") < cut_id)
    arrival_pdf = pdf.iloc[cut:].copy()
    # one guaranteed near-dup arrival: an exact copy of a corpus doc
    seed = corpus_pdf.iloc[0]
    clone = arrival_pdf.iloc[[0]].copy()
    clone["doc_id"] = int(pdf["doc_id"].max()) + 1
    clone["text"] = seed["text"]
    arrival_pdf = __import__("pandas").concat(
        [arrival_pdf, clone], ignore_index=True
    )
    index = ingest.build_lsh_index(corpus_df)

    stream, src_dir = _stream_chunks(spark, arrival_pdf, n_chunks=2)
    try:
        got = _run_to_memory(
            # corpus = snapshot ONLY — arrivals' text must NOT be needed
            ingest.lsh_pairs_stream(stream, index, corpus_df, verify=True),
            "ingest_pairs_v",
        ).toPandas()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)

    assert len(got) > 0, "verify silently dropped every candidate"
    assert (int(seed["doc_id"]), int(clone["doc_id"].iloc[0])) in set(
        zip(got["a"], got["b"])
    )
    # jaccard values == batch verify over the union frame (which HAS both
    # sides' text, so the batch path is the ground truth here)
    full = docs.unionByName(spark.createDataFrame(clone, schema=docs.schema))
    pairs = spark.createDataFrame(got[["a", "b"]])
    batch = dd.ngram_jaccard(full, pairs).toPandas()
    g = got.sort_values(["a", "b"]).reset_index(drop=True)
    b = batch.sort_values(["a", "b"]).reset_index(drop=True)
    assert len(g) == len(b)
    assert g["jaccard"].tolist() == b["jaccard"].tolist()


def test_decontaminate_stream_equals_batch(spark, docs):
    """Streaming decontamination == the batch scrub's flagged set
    (min_hits=1) over the same rows: arriving docs vs the persisted
    benchmark gram index, across micro-batch boundaries."""
    bench = docs.where(F.col("doc_id") % 97 == 0)
    batch_flagged = {
        r.doc_id
        for r in dd.decontaminate(docs, bench, n=4).collect()
    }
    assert batch_flagged, "fixture must exercise real hits"

    index = ingest.build_decon_index(bench, n=4)
    pdf = docs.toPandas().sort_values("doc_id")
    stream, src_dir = _stream_chunks(spark, pdf)
    try:
        flagged = _run_to_memory(
            ingest.decontaminate_stream(stream, index, n=4),
            "ingest_decon",
        )
        got = {r.doc_id for r in flagged.collect()}
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
    assert got == batch_flagged


def test_decontaminate_stream_null_text_is_clean(spark):
    """Dirty-data contract: null text carries no grams → never flagged,
    never fatal (the battery's null-propagation policy applied to the
    scrub)."""
    bench = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    index = ingest.build_decon_index(bench, n=4)
    pdf = spark.createDataFrame(
        [(1, None), (2, "x a b c d y")], "doc_id long, text string"
    ).toPandas()
    stream, src_dir = _stream_chunks(spark, pdf, n_chunks=1,
                                     schema="doc_id long, text string")
    try:
        flagged = _run_to_memory(
            ingest.decontaminate_stream(stream, index, n=4),
            "ingest_decon_null",
        )
        got = {r.doc_id for r in flagged.collect()}
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
    assert got == {2}


def test_streaming_ingest_pipeline_composes(spark, docs):
    """Composition gate for the STREAMING front end: one arrival stream
    through exact dedup → decontamination flagging → the row-local
    battery, across micro-batch boundaries. Pins the column contracts
    between the tiers and that the streamed survivors equal the batch
    pipeline's survivors on the same rows."""
    bench = docs.where(F.col("doc_id") % 97 == 0)
    decon_index = ingest.build_decon_index(bench, n=4)

    # batch twin: first-seen dedup (id order) then decon flagging
    fp = tx.fingerprint(F.col("text"))
    first_seen = (
        docs.withColumn("__fp", fp)
        .groupBy("__fp").agg(F.min("doc_id").alias("doc_id"))
    )
    batch_kept = {r.doc_id for r in first_seen.collect()}
    batch_flagged = {
        r.doc_id for r in dd.decontaminate(docs, bench, n=4).collect()
    }
    batch_survivors = batch_kept - batch_flagged
    assert batch_survivors, "fixture must leave survivors"

    pdf = docs.toPandas().sort_values("doc_id")
    stream, src_dir = _stream_chunks(spark, pdf)
    try:
        deduped = ingest.exact_dedup_stream(stream)
        kept = {r.doc_id for r in _run_to_memory(
            deduped.select("doc_id"), "ingest_pipe_dedup").collect()}

        flagged = {r.doc_id for r in _run_to_memory(
            ingest.decontaminate_stream(stream, decon_index, n=4),
            "ingest_pipe_decon").collect()}

        battery = stream.select(
            "doc_id",
            tx.token_count(F.col("text")).alias("n_tokens"),
            tx.quality_score(F.col("text")).alias("q"),
        )
        scored = _run_to_memory(battery, "ingest_pipe_battery")
        assert scored.count() == len(pdf), "battery is row-local on streams"
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)

    assert kept == batch_kept, "stream dedup == batch first-seen"
    assert flagged == batch_flagged, "stream decon == batch flagged set"
    assert (kept - flagged) == batch_survivors


def test_dsir_score_stream_equals_batch(spark, docs):
    """Streaming DSIR scoring == batch dsir_weights over the same rows:
    arriving docs scored row-locally against the frozen one-row λ index,
    across micro-batch boundaries (stateless — batching cannot matter,
    and this pins it)."""
    from wingfoil_spark.functions import selection as sel

    target = docs.where(F.col("lang") == "en")
    batch = {
        r.doc_id: r.log_w
        for r in sel.dsir_weights(
            docs,
            sel.dsir_profile(target, n_buckets=512),
            sel.dsir_profile(docs, n_buckets=512),
            n_buckets=512,
        ).collect()
    }
    assert batch, "fixture must produce weights"

    index = ingest.build_dsir_index(target, docs, n_buckets=512).localCheckpoint()
    pdf = docs.toPandas().sort_values("doc_id")
    stream, src_dir = _stream_chunks(spark, pdf)
    try:
        scored = _run_to_memory(
            ingest.dsir_score_stream(stream, index, n_buckets=512),
            "ingest_dsir",
        )
        got = {r.doc_id: r.log_w for r in scored.collect()}
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
    assert set(got) == set(batch)
    for i, v in got.items():
        assert v == pytest.approx(batch[i], abs=1e-12), i


def test_bm25_score_stream_equals_batch(spark, docs):
    """Streaming BM25 scoring == batch bm25_score over the same rows,
    against the frozen one-row stats index, across micro-batches."""
    from wingfoil_spark.functions import selection as sel

    terms = ["spark", "join", "window"]
    batch = {r.doc_id: r.score for r in sel.bm25_score(docs, terms).collect()}
    assert batch and any(v > 0 for v in batch.values())

    index = ingest.build_bm25_index(docs, terms).localCheckpoint()
    pdf = docs.toPandas().sort_values("doc_id")
    stream, src_dir = _stream_chunks(spark, pdf)
    try:
        scored = _run_to_memory(
            ingest.bm25_score_stream(stream, index, terms),
            "ingest_bm25",
        )
        got = {r.doc_id: r.score for r in scored.collect()}
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
    assert set(got) == set(batch)
    for i, v in got.items():
        assert v == pytest.approx(batch[i], abs=1e-12), i


def test_clf_score_stream_equals_batch(spark, docs):
    """quality_scores on a doc STREAM == batch quality_scores over the
    same rows, under a frozen trained model row, across micro-batches
    (the scorer is row-local, so one body serves both). The model is a
    REAL fit_quality_classifier artifact (MLlib LR persisted as one data
    row), not the graded derived row, so the differential covers the
    production model shape end to end."""
    from wingfoil_spark.functions import selection as sel

    model = sel.fit_quality_classifier(
        docs, F.col("doc_id") % 2 == 0, n_features=256
    ).localCheckpoint()
    batch = {
        r.doc_id: (r.logit, r.quality)
        for r in sel.quality_scores(docs, model).collect()
    }
    assert batch and len({v[0] for v in batch.values()}) > 1

    pdf = docs.toPandas().sort_values("doc_id")
    stream, src_dir = _stream_chunks(spark, pdf)
    try:
        scored = _run_to_memory(
            sel.quality_scores(stream, model), "ingest_clf"
        )
        got = {r.doc_id: (r.logit, r.quality) for r in scored.collect()}
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
    assert set(got) == set(batch)
    for i, (lg, ql) in got.items():
        assert lg == pytest.approx(batch[i][0], abs=1e-12), i
        assert ql == pytest.approx(batch[i][1], abs=1e-12), i


@pytest.mark.parametrize("smoothing", ["addk", "kn"])
def test_lm_score_stream_equals_batch(spark, docs, smoothing):
    """Streamed LM scoring == batch scoring (docs with >=1 bigram) under
    the frozen count fit, across micro-batch boundaries: the same
    lm_perplexity / kn_perplexity call on both frames."""
    from wingfoil_spark.functions import lm

    ref = docs.where(F.col("doc_id") % 7 == 0)
    if smoothing == "addk":
        model, score = lm.fit_bigram_lm(ref, k=0.1), lm.lm_perplexity
    else:
        model, score = lm.fit_kn_lm(ref, discount=0.75), lm.kn_perplexity
    batch = {
        r.doc_id: (r.n_bigrams, r.logprob_per_token)
        for r in score(docs, model).collect()
        if r.n_bigrams > 0
    }
    assert batch

    pdf = docs.toPandas().sort_values("doc_id")
    stream, src_dir = _stream_chunks(spark, pdf)
    try:
        scored = _run_to_memory(score(stream, model), f"ingest_lm_{smoothing}")
        got = {r.doc_id: (r.n_bigrams, r.logprob_per_token)
               for r in scored.collect()}
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
    assert set(got) == set(batch)
    # 1e-9: the streamed scorer quantizes per-bigram logprobs to 1e-9
    # integers before the per-doc sum (order-free determinism, ADVICE
    # r8), so it differs from batch avg() by < 5e-10 per doc by design.
    for i, (n, lp) in got.items():
        bn, blp = batch[i]
        assert n == bn, i
        assert lp == pytest.approx(blp, abs=1e-9), i


def test_quality_scores_stream_legal(spark, docs):
    """quality_scores is stateless row-local -> legal on a streaming
    frame AS-IS (no twin needed), and stream == batch."""
    from wingfoil_spark.functions import selection as sel

    model = sel.fit_quality_classifier(
        docs, F.col("lang") == "en", n_features=1 << 12, max_iter=10
    ).localCheckpoint()
    batch = {r.doc_id: r.quality
             for r in sel.quality_scores(docs, model).collect()}
    pdf = docs.toPandas().sort_values("doc_id")
    stream, src_dir = _stream_chunks(spark, pdf)
    try:
        scored = _run_to_memory(
            sel.quality_scores(stream, model), "ingest_quality"
        )
        got = {r.doc_id: r.quality for r in scored.collect()}
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
    assert set(got) == set(batch)
    for i, v in got.items():
        assert v == pytest.approx(batch[i], abs=1e-12), i


def test_ann_topk_stream_survives_restart(spark, sf_dir):
    """Checkpoint recovery for the serving path (graded as decon_stream
    part='ann' since r9): stop the retrieval query after the first probe
    file, restart a NEW query from the same checkpoint with more probes
    arrived — pre-restart answers are not re-emitted (exactly-once file
    sink) and post-restart probes get exactly their batch-tier top-k."""
    import pandas as pd

    from wingfoil_spark.functions import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % 40 == 0)
    batch = sim.lsh_bucketed_topk(emb, probes, k=5).toPandas()
    index = ingest.build_ann_index(emb).localCheckpoint(eager=True)

    pdf = probes.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    half = len(pdf) // 2
    src_dir = tempfile.mkdtemp(prefix="wf_ann_ckpt_src_")
    ckpt = tempfile.mkdtemp(prefix="wf_ann_ckpt_")
    out_dir = tempfile.mkdtemp(prefix="wf_ann_ckpt_out_")
    try:
        pdf.iloc[:half].to_parquet(
            os.path.join(src_dir, "c0.parquet"), index=False
        )

        def start():
            stream = (
                spark.readStream.schema("vec_id long, embedding array<float>")
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
            )
            return (
                ingest.ann_topk_stream(stream, index, k=5)
                .writeStream.format("parquet")
                .option("path", out_dir)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        q = start()
        q.awaitTermination(120)
        first = spark.read.parquet(out_dir).toPandas()
        assert set(first["probe_id"]) == set(pdf.iloc[:half]["vec_id"])

        pdf.iloc[half:].to_parquet(
            os.path.join(src_dir, "c1.parquet"), index=False
        )
        q2 = start()  # fresh query object, same checkpoint
        q2.awaitTermination(120)
        got = spark.read.parquet(out_dir).toPandas()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)

    key = ["probe_id", "rank"]
    g = got.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    # every probe answered exactly once, pre- and post-restart combined,
    # and the whole result equals the batch tier
    assert len(g) == len(b)
    for c in ("probe_id", "neighbor_id", "rank"):
        assert g[c].tolist() == b[c].tolist(), c
    assert g["cosine"].tolist() == b["cosine"].tolist()


def test_dedup_against_store_stream_and_batch(spark, docs, tmp_path):
    """r10: the 'ever ingested?' gate — a persisted fingerprint store
    anti-joins arrivals statelessly. Half the corpus is the ingested
    snapshot; the arrival stream replays ALL docs plus planted exact
    dups of snapshot docs; only genuinely-new content survives, and the
    stream result equals the batch anti-join row-for-row."""
    pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    cut = len(pdf) // 2
    snapshot = spark.createDataFrame(pdf.iloc[:cut], DOC_SCHEMA)
    store_path = str(tmp_path / "fp_store")
    ingest.build_fingerprint_store(snapshot, store_path)
    store = spark.read.parquet(store_path)
    assert store.columns == ["fp"]
    assert store.count() == store.dropDuplicates(["fp"]).count()

    arrivals = pdf.copy()
    planted = pdf.iloc[:3].copy()           # re-crawled dups of snapshot docs
    planted["doc_id"] = planted["doc_id"] + 10_000_000
    import pandas as pd
    arrivals = pd.concat([arrivals, planted], ignore_index=True)

    batch_in = spark.createDataFrame(arrivals, DOC_SCHEMA)
    got_batch = ingest.dedup_against_store(batch_in, store)
    assert sorted(got_batch.columns) == sorted(batch_in.columns), \
        "caller schema unchanged (no helper column leaks)"
    want = sorted(r.doc_id for r in got_batch.collect())
    # independent pandas replay of the anti-join (no assumption that the
    # fixture is collision-free across the halves): survivors are the
    # arrivals whose normalized-md5 fingerprint is not in the snapshot's
    import hashlib
    import re as _re

    def _fp(t):
        return hashlib.md5(
            _re.sub(r"\s+", " ", t.strip().lower()).encode()
        ).hexdigest()

    snap_fps = {_fp(t) for t in pdf.iloc[:cut]["text"]}
    expect = sorted(
        int(r.doc_id) for _, r in arrivals.iterrows()
        if _fp(r.text) not in snap_fps
    )
    assert want == expect

    stream, src_dir = _stream_chunks(spark, arrivals)
    try:
        got = _run_to_memory(
            ingest.dedup_against_store(stream, store), "ingest_store_anti"
        ).toPandas()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
    assert sorted(got["doc_id"].tolist()) == want

def test_dedup_against_store_rejects_private_key_collision(spark, docs):
    """r11 (VERDICT r10 wrong #3): an input frame that already carries the
    op's private join-key column must be rejected loudly, not silently
    clobbered and dropped."""
    store = docs.limit(0).selectExpr("md5(text) AS fp")
    poisoned = docs.withColumn("__store_fp", F.lit("x"))
    with pytest.raises(ValueError, match="__store_fp"):
        ingest.dedup_against_store(poisoned, store)
    # a plain 'fp' column is NOT the private key: passes through untouched
    ok = ingest.dedup_against_store(docs.withColumn("fp", F.lit("keep")), store)
    assert "fp" in ok.columns
    assert ok.select("fp").distinct().collect()[0][0] == "keep"


def test_compact_fingerprint_store_restores_distinct_shape(spark, docs, tmp_path):
    """r11 (VERDICT r10 missing #4): append-grown store with planted
    recurring fingerprints returns to one-row-per-distinct after
    compaction, and the anti-join result is unchanged by it."""
    path = str(tmp_path / "fp_store")
    ingest.build_fingerprint_store(docs, path)
    n_distinct = spark.read.parquet(path).count()
    # two append windows re-crawl overlapping content: fps recur on disk
    ingest.build_fingerprint_store(docs.limit(20), path, mode="append")
    ingest.build_fingerprint_store(docs.limit(35), path, mode="append")
    grown = spark.read.parquet(path)
    assert grown.count() > n_distinct, "appends must actually add rows"
    before = sorted(
        r.doc_id
        for r in ingest.dedup_against_store(
            docs, spark.read.parquet(path)
        ).collect()
    )
    n = ingest.compact_fingerprint_store(spark, path)
    compacted = spark.read.parquet(path)
    assert n == n_distinct
    assert compacted.count() == n_distinct
    assert compacted.count() == compacted.dropDuplicates(["fp"]).count()
    assert compacted.columns == ["fp"]
    # no sibling temp/old directories left behind
    leftovers = [p.name for p in tmp_path.iterdir() if p.name != "fp_store"]
    assert leftovers == []
    after = sorted(
        r.doc_id
        for r in ingest.dedup_against_store(docs, compacted).collect()
    )
    assert after == before


def test_compact_fingerprint_store_failed_swap_leaves_no_orphan(
    spark, docs, tmp_path, monkeypatch
):
    """ADVICE r11 (low): if the FIRST rename of the swap fails, the store
    must be untouched AND the compacted temporary copy must not be left
    orphaned on disk."""
    import shutil

    path = str(tmp_path / "fp_store")
    ingest.build_fingerprint_store(docs, path)
    ingest.build_fingerprint_store(docs.limit(20), path, mode="append")
    n_before = spark.read.parquet(path).count()
    real_move = shutil.move

    def failing_move(src, dst, *a, **kw):
        if src.rstrip("/") == path:
            raise OSError("simulated rename failure")
        return real_move(src, dst, *a, **kw)

    monkeypatch.setattr(shutil, "move", failing_move)
    with pytest.raises(OSError, match="simulated rename failure"):
        ingest.compact_fingerprint_store(spark, path)
    monkeypatch.undo()
    # store untouched, still readable, and no .compact-*/.old-* siblings
    assert spark.read.parquet(path).count() == n_before
    leftovers = [p.name for p in tmp_path.iterdir() if p.name != "fp_store"]
    assert leftovers == []


def test_ivf_topk_stream_matches_from_store(spark, sf_dir, tmp_path):
    """r11: online IVF serving from the persisted store — streaming
    probes (2 micro-batches) against the cid-partitioned parquet layout
    reproduce the batch ivf_topk_from_store EXACTLY (same row-local
    assignment geometry, same 6dp ranking)."""
    from wingfoil_spark.functions import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % 40 == 0)
    path = str(tmp_path / "serve_store")
    cents = sim.write_ivf_store(emb, path, n_centroids=8, fit="take")
    cents = cents.localCheckpoint(eager=True)
    batch = sim.ivf_topk_from_store(
        spark, path, cents, probes, k=5, nprobe=3
    ).toPandas()

    pdf = probes.select("vec_id", "embedding").toPandas()
    src_dir = tempfile.mkdtemp(prefix="wf_ivf_serve_")
    try:
        n = len(pdf)
        for i in range(2):
            chunk = pdf.iloc[i * n // 2 : (i + 1) * n // 2]
            p = os.path.join(src_dir, f"c{i}.parquet")
            chunk.to_parquet(p, index=False)
            os.utime(p, (time.time() + i, time.time() + i))
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        got = _run_to_memory(
            sim.ivf_topk_from_store(spark, path, cents, stream, k=5, nprobe=3),
            "ivf_serve_stream",
        ).toPandas()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)

    key = ["probe_id", "rank"]
    g = got.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(g) == len(b) and len(g) > 0
    for c in ("probe_id", "neighbor_id", "rank"):
        assert g[c].tolist() == b[c].tolist(), c
    assert g["cosine"].tolist() == b["cosine"].tolist()


def test_ivfpq_topk_stream_matches_from_store(spark, sf_dir, tmp_path):
    """r11: online ADC serving from the codes-only store — streaming
    probes (2 micro-batches) against the persisted (id, pq_code, cid)
    layout reproduce the batch ivfpq_topk_from_store EXACTLY."""
    from wingfoil_spark.functions import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % 40 == 0)
    books = sim.pq_train(emb, m=8, k=16, fit="take")
    path = str(tmp_path / "serve_codes")
    cents = sim.write_ivfpq_store(
        emb, path, books, n_centroids=8, fit="take"
    ).localCheckpoint(eager=True)
    batch = sim.ivfpq_topk_from_store(
        spark, path, cents, books, probes, k=5, nprobe=3
    ).toPandas()

    pdf = probes.select("vec_id", "embedding").toPandas()
    src_dir = tempfile.mkdtemp(prefix="wf_ivfpq_serve_")
    try:
        n = len(pdf)
        for i in range(2):
            chunk = pdf.iloc[i * n // 2 : (i + 1) * n // 2]
            p = os.path.join(src_dir, f"c{i}.parquet")
            chunk.to_parquet(p, index=False)
            os.utime(p, (time.time() + i, time.time() + i))
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        got = _run_to_memory(
            sim.ivfpq_topk_from_store(
                spark, path, cents, books, stream, k=5, nprobe=3
            ),
            "ivfpq_serve_stream",
        ).toPandas()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)

    key = ["probe_id", "rank"]
    g = got.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(g) == len(b) and len(g) > 0
    for c in ("probe_id", "neighbor_id", "rank"):
        assert g[c].tolist() == b[c].tolist(), c
    assert g["adc_dist"].tolist() == b["adc_dist"].tolist()


def test_ivf_topk_stream_duplicate_store_ids_match_batch(spark, sf_dir, tmp_path):
    """Review r11: a store grown by append_ivf_store may carry duplicate
    ids (dedup is the crawl gate's job), with the same or different
    vectors. Batch and stream both keep each (probe, neighbor) pair
    once, at its best cosine — one rank per neighbor, stream == batch."""
    from wingfoil_spark.functions import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % 40 == 0)
    path = str(tmp_path / "dup_store")
    cents = sim.write_ivf_store(emb, path, n_centroids=8, fit="take")
    cents = cents.localCheckpoint(eager=True)
    # re-append 20 existing vectors verbatim: duplicate ids, same vectors
    sim.append_ivf_store(emb.where(F.col("vec_id") % 7 == 0).limit(20),
                         path, cents)
    # and every third id again with a NEGATED vector: one id, two
    # different vectors — the pair's best cosine is the one that ranks
    sim.append_ivf_store(
        emb.where(F.col("vec_id") % 3 == 0)
        .withColumn("embedding", F.expr("transform(embedding, x -> -x)")),
        path, cents,
    )
    batch = sim.ivf_topk_from_store(
        spark, path, cents, probes, k=5, nprobe=3
    ).toPandas()
    assert batch.groupby("probe_id")["neighbor_id"].nunique().eq(
        batch.groupby("probe_id")["neighbor_id"].size()).all()

    pdf = probes.select("vec_id", "embedding").toPandas()
    src_dir = tempfile.mkdtemp(prefix="wf_ivf_dup_serve_")
    try:
        pdf.to_parquet(os.path.join(src_dir, "c0.parquet"), index=False)
        stream = spark.readStream.schema(
            "vec_id long, embedding array<float>"
        ).parquet(src_dir)
        got = _run_to_memory(
            sim.ivf_topk_from_store(spark, path, cents, stream, k=5, nprobe=3),
            "ivf_dup_serve",
        ).toPandas()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)

    key = ["probe_id", "rank"]
    g = got.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(g) == len(b) and len(g) > 0
    for c in ("probe_id", "neighbor_id", "rank"):
        assert g[c].tolist() == b[c].tolist(), c
    assert g["cosine"].tolist() == b["cosine"].tolist()


def test_decontaminate_stream_duplicate_and_huge_ids(spark):
    """Review r12: (a) duplicate flagged ids WITHIN one batch emit
    exactly one row regardless of partition layout (the dedup shuffles
    the matched ids); (b) ids above 2^53 survive exactly — a NULL id in
    the batch must not force the int64->float64 pandas coercion that
    silently corrupts them (NULL-id rows are dropped by contract)."""
    import pandas as pd

    bench = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    index = ingest.build_decon_index(bench, n=4)
    huge = (1 << 53) + 1
    # nullable Int64 keeps the parquet column int64 (a plain toPandas
    # would coerce the NULL-bearing column to float64 — the exact
    # corruption the op now guards against)
    pdf = pd.DataFrame({
        "doc_id": pd.array([5, 5, huge, None, 7], dtype="Int64"),
        "text": [
            "x a b c d y",                     # flagged
            "z a b c d w",                     # same id again, same batch
            "q a b c d r",                     # flagged, above 2^53
            "k a b c d m",                     # NULL id: dropped
            "nothing matching here at all",    # clean
        ],
    })
    stream, src_dir = _stream_chunks(spark, pdf, n_chunks=1,
                                     schema="doc_id long, text string")
    try:
        flagged = _run_to_memory(
            ingest.decontaminate_stream(stream, index, n=4),
            "ingest_decon_dupid",
        )
        rows = flagged.collect()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
    got = sorted(r.doc_id for r in rows)
    assert got == [5, huge], got          # one row per distinct id, exact
    assert len(rows) == 2


def test_serving_ops_accept_string_ids(spark):
    """Review r12: the streamed rankers derived their mapInPandas schema
    from a hardcoded 'long' — string/UUID ids died at Arrow conversion
    despite the id_col parameter. The LSH and IVF tiers must serve
    string-keyed corpora to a STREAMING probe frame (a batch frame takes
    the window ranker, which never had the problem)."""
    import random

    from wingfoil_spark.functions import similarity as sim

    rng = random.Random(5)
    rows = [(f"v{i:03d}", [rng.uniform(-1, 1) for _ in range(16)])
            for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    pdf = df.where(F.col("vec_id") < "v005").toPandas()
    idx = ingest.build_ann_index(df)
    cents = sim.ivf_centroids(df, 4, fit="take").localCheckpoint(eager=True)
    asg = sim.ivf_assign(df, cents, 1).localCheckpoint(eager=True)
    src_dir = tempfile.mkdtemp(prefix="wf_str_ids_")
    try:
        pdf.to_parquet(os.path.join(src_dir, "c0.parquet"), index=False)

        def probes():
            return spark.readStream.schema(
                "vec_id string, embedding array<float>"
            ).parquet(src_dir)

        out = _run_to_memory(
            ingest.ann_topk_stream(probes(), idx, k=3), "str_ids_ann"
        ).toPandas()
        out2 = _run_to_memory(
            sim.ivf_topk(asg, probes(), k=3, nprobe=2, centroids=cents,
                         corpus_assign=asg),
            "str_ids_ivf",
        ).toPandas()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
    assert len(out) and out["probe_id"].map(lambda s: s.startswith("v")).all()
    assert len(out2) and out2["neighbor_id"].map(
        lambda s: s.startswith("v")).all()


def test_serving_joins_broadcast_the_probe_side(spark, sf_dir):
    """Review r12: AQE does not run in streaming micro-batch plans, so
    the static index/store side must never be shuffled per trigger —
    the probe side carries an explicit broadcast hint (batch-mode plan
    asserted; the same joins execute per micro-batch)."""
    from wingfoil_spark.functions import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % 100 == 0)
    idx = ingest.build_ann_index(emb)
    cents = sim.ivf_centroids(emb, 4, fit="take").localCheckpoint(eager=True)
    asg = sim.ivf_assign(emb, cents, 1).localCheckpoint(eager=True)
    books = sim.pq_train(emb, m=8, k=16, fit="take")
    codes = sim.pq_encode(emb, books).select("vec_id", "pq_code")
    for out in (
        ingest.ann_topk_stream(probes, idx, k=3),
        sim.ivf_topk(asg, probes, k=3, nprobe=2, centroids=cents,
                     corpus_assign=asg),
        sim.ivfpq_topk(emb, probes, books, k=3, nprobe=2,
                       corpus_codes=codes, centroids=cents,
                       corpus_assign=asg),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan[:500]
        assert "SortMergeJoin" not in plan, plan[:500]


def test_ivf_topk_stream_build_py4j_round_trips(spark, sf_dir,
                                               py4j_commands):
    """Building the IVF server is driver work counted in py4j round
    trips, which host load cannot inflate. The probe assignment reads
    the centroids as one broadcast array row, so the build does not
    grow with the centroid count; inlining 64 centroids as literal
    arrays sent more than 20k commands."""
    from wingfoil_spark.functions import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % 40 == 0)
    cents = sim.ivf_centroids(emb, 64, fit="take").localCheckpoint(eager=True)
    asg = sim.ivf_assign(emb, cents, 1).localCheckpoint(eager=True)
    with py4j_commands() as c:
        sim.ivf_topk(asg, probes, k=5, nprobe=4, centroids=cents,
                     corpus_assign=asg)
    assert c.n <= 600, f"{c.n} py4j round trips to build the IVF server"


def test_exact_dedup_stream_rejects_fp_collision(spark, docs):
    """Review r12: a pre-existing 'fp' column (the op's documented output
    fingerprint) is rejected loudly instead of silently clobbered."""
    with pytest.raises(ValueError, match="'fp' column"):
        ingest.exact_dedup_stream(docs.withColumn("fp", F.lit("x")))


def test_ivfpq_rerank_stream_matches_batch(spark, sf_dir, tmp_path):
    """r14: the streamed rerank — ADC shortlist from the codes-only
    store + exact re-rank against the float side — reproduces the batch
    ivfpq_rerank_topk EXACTLY under the same store/metadata, across 2
    micro-batches (the shortlist iterator's running merge and the
    carried probe vector are both load-bearing here). The float side
    holds every third id twice: both modes rank such a neighbor once."""
    from wingfoil_spark.functions import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % 40 == 0)
    books = sim.pq_train(emb, m=8, k=16, fit="take")
    path = str(tmp_path / "rerank_codes")
    cents = sim.write_ivfpq_store(
        emb, path, books, n_centroids=8, fit="take"
    ).localCheckpoint(eager=True)
    store = spark.read.parquet(path)
    floats = emb.select("vec_id", "embedding").unionByName(
        emb.where(F.col("vec_id") % 3 == 0).select("vec_id", "embedding")
    )

    def rerank(p):
        # corpus_codes/assign from the store frame, centroids from the
        # store metadata
        return sim.ivfpq_rerank_topk(
            floats, p, books, k=5, shortlist=20, nprobe=3,
            corpus_codes=store.select("vec_id", "pq_code"),
            centroids=cents,
            corpus_assign=store.select("vec_id", "cid"),
        )

    batch = rerank(probes).toPandas()
    assert batch.groupby("probe_id")["neighbor_id"].nunique().eq(
        batch.groupby("probe_id")["neighbor_id"].size()).all()

    pdf = probes.select("vec_id", "embedding").toPandas()
    src_dir = tempfile.mkdtemp(prefix="wf_rerank_serve_")
    try:
        n = len(pdf)
        for i in range(2):
            chunk = pdf.iloc[i * n // 2 : (i + 1) * n // 2]
            p = os.path.join(src_dir, f"c{i}.parquet")
            chunk.to_parquet(p, index=False)
            os.utime(p, (time.time() + i, time.time() + i))
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        got = _run_to_memory(rerank(stream), "rerank_serve_stream").toPandas()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)

    key = ["probe_id", "rank"]
    g = got.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(g) == len(b) and len(g) > 0
    for c in ("probe_id", "neighbor_id", "rank"):
        assert g[c].tolist() == b[c].tolist(), c
    assert g["cosine"].tolist() == b["cosine"].tolist()


def test_stream_from_store_constructors_match_batch(spark, sf_dir, tmp_path):
    """r14: path-only streamed serving — store frame, centroids and
    codebooks all loaded from the self-describing store at stream
    construction — reproduces the same from-store call on batch probes
    exactly on an availableNow run (ivf serve, ADC serve, ADC + exact
    re-rank)."""
    from wingfoil_spark.functions import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % 40 == 0)
    books = sim.pq_train(emb, m=8, k=16, fit="take")
    ipath = str(tmp_path / "ivf")
    qpath = str(tmp_path / "ivfpq")
    sim.write_ivf_store(emb, ipath, n_centroids=8, fit="take")
    sim.write_ivfpq_store(emb, qpath, books, n_centroids=8, fit="take")

    pdf = probes.select("vec_id", "embedding").toPandas()
    src_dir = tempfile.mkdtemp(prefix="wf_sfs_")
    try:
        n = len(pdf)
        for i in range(2):
            chunk = pdf.iloc[i * n // 2: (i + 1) * n // 2]
            p = os.path.join(src_dir, f"c{i}.parquet")
            chunk.to_parquet(p, index=False)
            os.utime(p, (time.time() + i, time.time() + i))

        def stream():
            return (
                spark.readStream
                .schema("vec_id long, embedding array<float>")
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
            )

        key = ["probe_id", "rank"]

        def norm(df):
            return df.toPandas().sort_values(key).reset_index(drop=True)

        cases = [
            (
                sim.ivf_topk_from_store(
                    spark, ipath, None, stream(), k=5, nprobe=3
                ),
                sim.ivf_topk_from_store(
                    spark, ipath, None, probes, k=5, nprobe=3
                ),
                "sfs_ivf",
            ),
            (
                sim.ivfpq_topk_from_store(
                    spark, qpath, None, None, stream(), k=5, nprobe=3
                ),
                sim.ivfpq_topk_from_store(
                    spark, qpath, None, None, probes, k=5, nprobe=3
                ),
                "sfs_ivfpq",
            ),
            (
                sim.ivfpq_rerank_from_store(
                    spark, qpath, emb, stream(), k=5, shortlist=10,
                    nprobe=3,
                ),
                sim.ivfpq_rerank_from_store(
                    spark, qpath, emb, probes, k=5, shortlist=10,
                    nprobe=3,
                ),
                "sfs_rerank",
            ),
        ]
        for out, batch, name in cases:
            g, b = norm(_run_to_memory(out, name)), norm(batch)
            assert len(g) == len(b) and len(g) > 0, name
            for c in ("probe_id", "neighbor_id", "rank"):
                assert g[c].tolist() == b[c].tolist(), (name, c)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)


def test_search_tiers_serve_batch_and_streamed_probes(spark, sf_dir, tmp_path):
    """Every search tier (exact, LSH, IVF, IVF-PQ, rerank) is ONE body
    for batch and streaming probe frames: each tier's streamed output
    schema equals its batch schema (rank int on the cosine tiers, the
    ADC tiers' bigint on both sides), and the exact and multi-table LSH
    tiers return the batch rows over 2 micro-batches."""
    from pyspark.sql import types as T

    from wingfoil_spark.functions import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % 40 == 0)
    books = sim.pq_train(emb, m=8, k=16, fit="take")
    ipath, qpath = str(tmp_path / "ivf"), str(tmp_path / "ivfpq")
    cents = sim.write_ivf_store(
        emb, ipath, n_centroids=8, fit="take"
    ).localCheckpoint(eager=True)
    sim.write_ivfpq_store(emb, qpath, books, centroids=cents)
    idx = ingest.build_ann_index(emb, n_tables=4)

    pdf = probes.select("vec_id", "embedding").toPandas()
    src_dir = tempfile.mkdtemp(prefix="wf_tiers_")
    try:
        n = len(pdf)
        for i in range(2):
            chunk = pdf.iloc[i * n // 2: (i + 1) * n // 2]
            p = os.path.join(src_dir, f"c{i}.parquet")
            chunk.to_parquet(p, index=False)
            os.utime(p, (time.time() + i, time.time() + i))

        def stream():
            return (
                spark.readStream
                .schema("vec_id long, embedding array<float>")
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
            )

        tiers = {
            "exact": lambda p: sim.cosine_topk(emb, p, k=5),
            "lsh": lambda p: sim.lsh_bucketed_topk(
                emb, p, k=5, n_tables=4, probe_hamming=1),
            "ann": lambda p: ingest.ann_topk_stream(
                p, idx, k=5, n_tables=4, probe_hamming=1),
            "ivf": lambda p: sim.ivf_topk(
                emb, p, k=5, nprobe=3, centroids=cents),
            "ivf_store": lambda p: sim.ivf_topk_from_store(
                spark, ipath, None, p, k=5, nprobe=3),
            "ivfpq": lambda p: sim.ivfpq_topk(
                emb, p, books, k=5, nprobe=3, centroids=cents),
            "ivfpq_store": lambda p: sim.ivfpq_topk_from_store(
                spark, qpath, None, None, p, k=5, nprobe=3),
            "rerank": lambda p: sim.ivfpq_rerank_topk(
                emb, p, books, k=5, shortlist=10, nprobe=3,
                centroids=cents),
            "rerank_store": lambda p: sim.ivfpq_rerank_from_store(
                spark, qpath, emb, p, k=5, shortlist=10, nprobe=3),
        }

        def fields(df):
            return [(f.name, f.dataType) for f in df.schema.fields]

        for name, tier in tiers.items():
            b, s = tier(probes), tier(stream())
            assert s.isStreaming and not b.isStreaming, name
            assert fields(s) == fields(b), (name, fields(s), fields(b))
            want = T.LongType() if "adc_dist" in b.columns else T.IntegerType()
            assert b.schema["rank"].dataType == want, name
        # the LSH tier's prebuilt-index server ranks like the batch tier
        assert fields(tiers["ann"](stream())) == fields(tiers["lsh"](probes))

        key = ["probe_id", "rank"]
        for name in ("exact", "lsh"):
            g = _run_to_memory(tiers[name](stream()), f"tier_{name}") \
                .toPandas().sort_values(key).reset_index(drop=True)
            b = tiers[name](probes).toPandas().sort_values(key) \
                .reset_index(drop=True)
            assert len(g) == len(b) and len(g) > 0, name
            for c in ("probe_id", "neighbor_id", "rank", "cosine"):
                assert g[c].tolist() == b[c].tolist(), (name, c)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
