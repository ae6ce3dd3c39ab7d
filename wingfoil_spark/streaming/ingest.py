"""Streaming-ingest tier for the LLM training-data pipeline operators.

A 100 TB training corpus is not built in one batch — it accretes from a
continuous crawl. This module gives the batch dedup/text operators
(`functions.dedup`, `functions.text`) their Structured-Streaming shape:

- :func:`exact_dedup_stream` — first-seen-wins exact dedup over the
  arrival stream (`dropDuplicates` on the content fingerprint; bounded
  state via `dropDuplicatesWithinWatermark` when an event-time column is
  available). The batch analog keeps min-id per fingerprint
  (`dedup.exact_dedup`); on an id-ordered replay the two agree — pinned
  by tests/test_streaming_ingest.py.
- :func:`build_lsh_index` / :func:`lsh_pairs_stream` — near-dup
  detection of ARRIVING docs against the existing corpus: a persisted
  (id, band, bk) LSH band index (built once per corpus snapshot, batch)
  stream-static-joined on the band key. Stateless per micro-batch — no
  stream-stream state, no watermark coupling; the index is the only
  history needed, exactly the "frozen index + delta" shape a production
  crawl dedup runs. The same banding math as the batch pair expansion
  (`dedup.band_explode` is shared), so stream results == batch results
  restricted to (new x corpus) pairs — differentially tested.
- Row-local text analysis / MinHash / SimHash need no twin at all: they
  are stateless Catalyst projections (or Arrow-batched kernels), legal on
  a streaming frame as-is. tests/test_streaming_ingest.py pins
  batch == stream for the full battery.
- Frozen-model scorers and searches whose batch function takes a
  streaming frame need no twin here either: the LM perplexity scorers
  (`lm.lm_perplexity` / `kn_perplexity` / `dual_perplexity` over a
  persisted count fit), the quality classifier
  (`selection.quality_scores`) and every `similarity` search.

Scale posture: everything here shuffles at most once per micro-batch on
the band key (the join); signatures and fingerprints are row-local. The
stream side never re-reads the corpus — the index is a static frame
Spark can broadcast (small corpus) or shuffle-hash-join (large corpus,
AQE's call per micro-batch).

Reference basis: the reference engine has no crawl-ingest tier (this is
part of the north-star extension surface, BASELINE.json); the run-mode
duality discipline applied here is its HistoricalFrom/RealTime contract
(runtime/run.rs:16-29).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from wingfoil_spark.functions.dedup import (
    LSH_BANDS,
    MINHASH_K,
    _bench_grams,
    _doc_grams,
    band_explode,
    minhash_sig_array,
)
from wingfoil_spark.functions.text import tokens
from wingfoil_spark.functions.text import fingerprint
from wingfoil_spark.functions.similarity import (
    _ann_probes,
    _cosine_scored,
    _rank_topk,
    build_ann_index,  # noqa: F401 — re-exported: the streamed tier's index
)


def exact_dedup_stream(
    docs: DataFrame,
    text_col: str = "text",
    *,
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """First-seen-wins exact dedup on a document stream.

    Emits each arriving row whose normalized-text fingerprint has not been
    seen before (state = one entry per distinct fingerprint). With
    ``ts_col`` + ``watermark`` (e.g. ``"1 hour"``), state is BOUNDED:
    `dropDuplicatesWithinWatermark` evicts fingerprints older than the
    watermark — the right call when re-crawled dups arrive close together
    and unbounded state would grow with the corpus. Without a watermark,
    state is exact and unbounded (RocksDB-backed on a real cluster).

    Works identically on a batch frame (dropDuplicates is mode-agnostic),
    so the duality test replays one input through both paths.

    The output carries the computed ``fp`` column (documented API — the
    survivor's fingerprint, e.g. for appending into a fingerprint
    store); an input that ALREADY has an ``fp`` column is rejected
    rather than silently clobbered (review r12 — the
    :func:`dedup_against_store` collision rule). r12 also dropped the
    never-used ``id_col`` parameter: which duplicate survives is
    arrival order by contract (first seen), not min-id — and r13 made
    ``ts_col``/``watermark`` keyword-only (ADVICE r12): a pre-r12
    caller passing the old positional ``id_col`` now gets a loud
    ``TypeError`` instead of silently binding an id column to
    ``ts_col``.
    """
    if watermark is not None and ts_col is None:
        raise ValueError("watermark requires ts_col")
    if "fp" in docs.columns:
        raise ValueError(
            "exact_dedup_stream: input already has an 'fp' column (the "
            "op's documented output fingerprint) — rename it before "
            "calling"
        )
    out = docs.withColumn("fp", fingerprint(F.col(text_col)))
    if watermark is not None:
        return out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(["fp"])
    return out.dropDuplicates(["fp"])


def build_fingerprint_store(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    mode: str = "overwrite",
) -> None:
    """Persist the exact-dedup fingerprint SET of a corpus snapshot: one
    distinct md5 fingerprint per row, nothing else. This is the
    incremental-crawl complement to :func:`exact_dedup_stream`: that op
    dedups WITHIN the arrival stream (standing state); this store dedups
    arrivals AGAINST EVERYTHING ALREADY INGESTED with zero standing
    state — the history lives on disk, refreshed per snapshot.

    Scale shape: the store is one narrow column of fixed-width hashes
    (~32 bytes/doc — a 10 B-doc corpus is ~300 GB, trivially
    shuffle-joinable); the write is one map-side-combined distinct.
    Growing the store incrementally: appending each window's survivor
    fingerprints (mode='append') keeps the anti-join CORRECT but only
    dedups within the window — recurring content re-appends its fp, so
    periodically run :func:`compact_fingerprint_store` (or rebuild from
    the corpus snapshot) to restore the one-row-per-distinct-doc
    shape."""
    (
        corpus.select(fingerprint(F.col(text_col)).alias("fp"))
        .dropDuplicates(["fp"])
        .write.mode(mode).parquet(path)
    )


def dedup_against_store(
    docs: DataFrame,
    store: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Drop arriving docs whose content fingerprint already exists in a
    persisted :func:`build_fingerprint_store` snapshot — the
    "have we EVER ingested this?" gate a continuous crawl runs before
    anything else touches a document.

    Stream-static LEFT ANTI join on the fingerprint: stateless per
    micro-batch (the store is the only history), works identically on a
    batch frame. Spark broadcasts a small store or shuffle-hash-joins a
    large one per AQE's call; either way the stream side shuffles at
    most once on the hash key. Compose with :func:`exact_dedup_stream`
    downstream to also catch duplicates WITHIN the arrival window:
    store-anti-join first (cheap, stateless), stateful first-seen second
    (state now bounded by genuinely-new content only).

    The caller's schema is returned UNCHANGED — the join key lives in a
    private helper column that is dropped on the way out (a
    pre-existing ``fp`` column on the input passes through untouched;
    an input that already carries the private key name itself is
    rejected rather than silently clobbered-then-dropped)."""
    key = "__store_fp"
    if key in docs.columns:
        raise ValueError(
            f"dedup_against_store: input already has a {key!r} column "
            "(the op's private join key) — rename it before calling"
        )
    keyed = docs.withColumn(key, fingerprint(F.col(text_col)))
    return keyed.join(
        store.select(F.col("fp").alias(key)), key, "left_anti"
    ).drop(key)


def compact_fingerprint_store(
    spark, path: str, swap_strategy: str = "auto"
) -> int:
    """Restore an append-grown :func:`build_fingerprint_store` directory
    to one-row-per-distinct-fingerprint shape: read → dropDuplicates →
    write to a temporary sibling → swap into place. This makes the
    incremental-crawl recipe executable instead of prose: append each
    window's survivor fingerprints cheaply (mode='append'), then compact
    on a schedule to stop recurring content from growing the store.

    The swap is two renames on the same filesystem (current → ``.old``,
    compacted → current) — the window where no directory exists is one
    rename, not a full rewrite; a reader holding the OLD frame keeps a
    deleted-inode-style hazard either way, which is why the contract is
    "compact from the maintenance job, not under a live reader OR a
    concurrent appender" (same discipline as any parquet-rewrite
    compaction): fingerprints appended between this function's read and
    the swap are NOT in the compacted copy. Since r13 that schedule
    violation is a LOUD failure, not silent loss of dedup history: the
    live store is re-listed just before the swap and any new file
    aborts with ``ConcurrentAppendError`` (tmp removed, store
    untouched; best-effort — the re-list→rename instant remains racy).
    Serialize appends and compaction on one maintenance schedule.
    Returns the number of distinct fingerprints in the compacted
    store.

    Plan: one map-side-combined distinct of a single fixed-width hash
    column — the cheapest possible shuffle shape; output files follow
    spark.sql.shuffle.partitions (coalesced by AQE), so a 300 GB store
    compacts without any single-task funnel.

    The swap commits through
    :func:`~wingfoil_spark.functions.store_swap.swap_store_dirs`
    (``swap_strategy='auto'``: Hadoop FileSystem renames for
    hdfs://-style schemes, ``shutil`` renames for driver-local paths —
    see that module for the S3A caveat), and the returned count is
    observed on the rewrite job itself, so the compacted copy is never
    re-read just to count it (VERDICT r12)."""
    import uuid

    from pyspark.sql import Observation

    from wingfoil_spark.functions.store_swap import (
        guard_no_new_files,
        swap_store_dirs,
        validate_swap_strategy,
    )

    validate_swap_strategy(swap_strategy)  # before the full rewrite
    base = path.rstrip("/")
    tmp = f"{base}.compact-{uuid.uuid4().hex[:12]}"
    old = f"{base}.old-{uuid.uuid4().hex[:12]}"
    src = spark.read.parquet(path)
    files_at_read = set(src.inputFiles())
    obs = Observation()
    compacted = src.dropDuplicates(["fp"]).observe(
        obs, F.count(F.lit(1)).alias("n")
    )
    compacted.write.mode("overwrite").parquet(tmp)
    n = obs.get["n"]
    guard_no_new_files(spark, base, files_at_read, tmp)
    swap_store_dirs(spark, base, tmp, old, strategy=swap_strategy)
    return n


def build_lsh_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """The corpus-side LSH band index: (id, band, bk), one row per band
    per doc. Batch; persist it (parquet bucketed by ``bk`` at scale) and
    hand it to :func:`lsh_pairs_stream`. Rebuilt per corpus snapshot —
    the index IS the dedup history, so the stream job itself stays
    stateless."""
    return band_explode(
        minhash_sig_array(docs, text_col, id_col, k), id_col, k, bands
    )


def lsh_pairs_stream(
    new_docs: DataFrame,
    index: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    verify: bool = True,
) -> DataFrame:
    """Near-dup candidates of arriving docs vs the indexed corpus.

    ``new_docs`` may be a streaming frame; ``index``/``corpus`` are static
    (the persisted snapshot). Plan per micro-batch: row-local signatures →
    band explode → equi-join on (band, bk) against the index → per-pair
    dedup across bands → (optionally) exact n-gram Jaccard verify. Self-
    matches (a doc joining its own index rows on a re-crawl replay) are
    dropped.

    The verify stage reads the B side (the ARRIVING doc) from the STREAM
    itself: its token set is computed row-locally up front and carried
    through banding/pairing, so only the A side (the existing corpus doc)
    joins against ``corpus``. ADVICE r4: the old path looked BOTH sides
    up in ``corpus`` — under the documented deployment (corpus = the
    persisted snapshot, which excludes arrivals) the b-side join found no
    row and every candidate silently vanished at verify. ``corpus`` now
    only needs the snapshot the index was built from — by construction
    the same thing.

    Output: (a, b[, jaccard]) with a = corpus id, b = arriving id.
    Multi-band hits collapse through a BATCH-LOCAL first-seen dedup on
    (a, b): an arriving doc's band rows live in exactly one micro-batch
    (its pairs are batch-local by construction), so the old streaming
    ``dropDuplicates`` kept one state-store entry per (corpus doc,
    arriving doc) pair FOREVER — with ``verify`` each entry also
    carried the arriving doc's full token set — unbounded growth over a
    continuous crawl for a dedup that never needed cross-batch state
    (review r12; the decontaminate_stream pattern). Now: one
    pair-bounded shuffle colocates each (a, b), a per-partition
    seen-set keeps the first, state is ZERO. A RE-ARRIVED doc id pairs
    again in its later batch — cross-arrival dedup is the upstream
    ingest gate's job. NULL-id rows are dropped (a pair needs both ids;
    and a NULL would force the int64→float64 pandas coercion).
    """
    import pandas as pd

    keep = ("__tb",) if verify else ()
    src = new_docs.where(F.col(id_col).isNotNull())
    if verify:
        src = src.withColumn(
            "__tb", F.array_distinct(tokens(F.col(text_col)))
        )
    sigs = minhash_sig_array(src, text_col, id_col, k, keep=keep)
    stream_bands = band_explode(sigs, id_col, k, bands, keep=keep) \
        .withColumnRenamed(id_col, "b")
    idx = index.where(F.col(id_col).isNotNull()) \
        .withColumnRenamed(id_col, "a")
    joined = (
        stream_bands.join(idx, ["band", "bk"])
        .where(F.col("a") != F.col("b"))
        .select("a", "b", *keep)
    )
    a_t = index.schema[id_col].dataType.simpleString()
    b_t = new_docs.schema[id_col].dataType.simpleString()
    pair_schema = f"a {a_t}, b {b_t}" + (
        ", __tb array<string>" if verify else ""
    )

    def first_seen(batches):
        seen: set = set()  # one partition's pairs — candidate-bounded
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.drop_duplicates(subset=["a", "b"])
            keys = list(zip(pdf["a"], pdf["b"]))
            mask = [kk not in seen for kk in keys]
            seen.update(kk for kk, m in zip(keys, mask) if m)
            out = pdf[mask]
            if len(out):
                yield out

    pairs = joined.repartition("a", "b").mapInPandas(
        first_seen, pair_schema
    )
    if not verify:
        return pairs
    a_side = corpus.select(
        F.col(id_col).alias("a"),
        F.array_distinct(tokens(F.col(text_col))).alias("__ta"),
    )
    return (
        pairs.join(a_side, "a")
        .select(
            "a",
            "b",
            # try_divide for the 0/0 empty-token pair — same rationale
            # and NULL convention as the batch ngram_jaccard (review r12)
            F.try_divide(
                F.size(F.array_intersect("__ta", "__tb")).cast("double"),
                F.size(F.array_union("__ta", "__tb")).cast("double"),
            ).alias("jaccard"),
        )
    )


def build_decon_index(
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
) -> DataFrame:
    """The eval-set n-gram hash index for streaming decontamination: one
    distinct 60-bit md5 gram hash per row (column ``gh``). Benchmarks are
    tiny against a crawl, so the persisted index broadcasts per
    micro-batch. Same gram/hash math as the batch scrub
    (`dedup.decontaminate`) — shared expressions, so stream == batch is a
    structural fact, then differentially tested anyway."""
    return _bench_grams(benchmark, n, text_col)


def decontaminate_stream(
    new_docs: DataFrame,
    index: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag ARRIVING docs that share any word ``n``-gram with the indexed
    eval set — the streaming half of `dedup.decontaminate`'s flagged-only
    emission (min_hits=1; graded hit-count audits are a batch/foreachBatch
    concern — a cross-batch per-doc count would be unbounded keyed state
    for a number the flag already decides).

    ``new_docs`` may be a streaming frame; ``index`` is the static
    persisted benchmark gram set. Plan per micro-batch: row-local token →
    gram → hash explode, LEFT SEMI join against the (broadcast) index —
    a doc row survives iff some gram matched — then a BATCH-LOCAL
    first-seen dedup collapses multi-gram hits: one tiny shuffle of the
    MATCHED doc ids (hit-bounded, a single id column — never the gram
    rows, never the corpus) colocates each id, and a per-partition
    seen-set keeps the first. ZERO standing state. (r12: the previous
    `dropDuplicates` ran the keyed state store for cross-batch dedup
    that can never fire — a doc row lives in exactly one micro-batch —
    and its state machinery was ~half the part's wall time at 1×
    arrivals in the SCALE_r11 streaming tier.) Emits exactly one
    ``(doc_id, contaminated=true)`` row per DISTINCT flagged doc id per
    micro-batch; an id that genuinely RE-ARRIVES in a later batch flags
    again — cross-arrival dedup of re-crawls is the upstream ingest
    gate's job (:func:`dedup_against_store` / :func:`exact_dedup_stream`
    run first in the documented pipeline order), the same discipline as
    the vector-store appends. NULL-id rows are dropped (review r12: a
    doc with no id has no flag to attach — and a NULL in the id column
    would force Arrow's int64→float64 pandas coercion, silently
    corrupting ids above 2^53 in the dedup pass)."""
    import pandas as pd

    grams = _doc_grams(
        new_docs.where(
            F.col(text_col).isNotNull() & F.col(id_col).isNotNull()
        ),
        n, text_col, id_col,
    )
    hits = grams.join(F.broadcast(index), "gh", "left_semi").select(id_col)
    id_type = new_docs.schema[id_col].dataType.simpleString()

    def first_seen(batches):
        seen: set = set()  # one partition's flagged keys — hit-bounded
        for pdf in batches:
            if not len(pdf):
                continue
            fresh = [v for v in pdf[id_col].unique() if v not in seen]
            if fresh:
                seen.update(fresh)
                yield pd.DataFrame({id_col: fresh})

    # the repartition makes the dedup DETERMINISTIC (review r12: without
    # it, duplicate ids WITHIN one batch collapse or not depending on
    # which partitions their rows land in); it shuffles only the matched
    # ids — a few thousand longs per batch, not the gram explosion
    return (
        hits.repartition(id_col)
        .mapInPandas(first_seen, f"{id_col} {id_type}")
        .withColumn("contaminated", F.lit(True))
    )


def build_dsir_index(
    target_docs: DataFrame,
    raw_docs: DataFrame,
    text_col: str = "text",
    n_buckets: int = 10_000,
) -> DataFrame:
    """The DSIR model for streaming selection: ONE row
    ``(lam array<double> dense-by-bucket, lam_oov double)`` — the add-1-smoothed
    per-bucket importance log-ratios of a target corpus vs the raw
    corpus (`functions.selection._log_ratio_row`). Batch; persist it and
    hand it to :func:`dsir_score_stream`. Like the decon index, the
    model is a frozen snapshot — retrain per corpus refresh, not per
    micro-batch."""
    from wingfoil_spark.functions.selection import _log_ratio_row, dsir_profile

    return _log_ratio_row(
        dsir_profile(target_docs, text_col, n_buckets),
        dsir_profile(raw_docs, text_col, n_buckets),
        n_buckets,
    )


def dsir_score_stream(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
) -> DataFrame:
    """DSIR importance log-weights for ARRIVING docs — the streaming half
    of `functions.selection.dsir_weights` (the selection a continuous
    crawl actually needs: score each arriving doc against the frozen
    target/raw profile snapshot, keep the high-weight ones).

    ``new_docs`` may be a streaming frame; ``index`` is the static
    one-row :func:`build_dsir_index` frame. Plan per micro-batch, fully
    stateless: stream-static broadcast cross join of the single λ row,
    then the row-local JVM weight fold — zero shuffles, zero Python, no
    standing state. Tokens, grams, per-gram md5 and the weight fold are
    the batch scorer's own builders (`selection._with_gram_md5`,
    `selection._fold_weight`), so stream == batch is a structural fact —
    and differentially tested anyway."""
    from wingfoil_spark.functions.selection import (
        _fold_weight,
        _tokenized,
        _with_gram_md5,
    )

    d = _with_gram_md5(_tokenized(new_docs, text_col)).crossJoin(
        F.broadcast(index)
    )
    return d.select(F.col(id_col), _fold_weight(n_buckets).alias("log_w"))


def build_bm25_index(
    corpus: DataFrame,
    terms: list,
    text_col: str = "text",
) -> DataFrame:
    """Frozen BM25 corpus statistics for streaming retrieval scoring: the
    ONE-row ``(N, avgdl, dfs map<string,bigint>)`` frame the batch scorer
    folds (`functions.selection.bm25_score`). Batch; persist per corpus
    snapshot."""
    from wingfoil_spark.functions.selection import _bm25_stats, _tokenized

    terms = [t.lower() for t in terms]
    d = _tokenized(corpus, text_col).withColumn("__dl", F.size("__t"))
    return _bm25_stats(d, terms)


def bm25_score_stream(
    new_docs: DataFrame,
    index: DataFrame,
    terms: list,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 scores for ARRIVING docs against the frozen corpus
    statistics — the serving shape of `selection.bm25_score` (e.g.
    routing crawl docs by topical relevance as they land).

    ``new_docs`` may be a streaming frame; ``index`` is the static
    one-row :func:`build_bm25_index` frame. Per micro-batch: broadcast
    cross join of the single stats row + a row-local JVM projection —
    zero shuffles, zero Python, no standing state. Tokens, the query
    terms column and the BM25 sum are the batch scorer's own builders
    (`selection._tokenized`, `selection._terms_col`,
    `selection._bm25_sum`), so stream == batch for docs whose stats
    snapshot matches — pinned by the differential in
    tests/test_streaming_ingest.py."""
    from wingfoil_spark.functions.selection import (
        _bm25_sum,
        _terms_col,
        _tokenized,
    )

    terms = [t.lower() for t in terms]
    d = (
        _tokenized(new_docs, text_col)
        .withColumn("__dl", F.size("__t"))
        .withColumn("__q", _terms_col(terms))
        .crossJoin(F.broadcast(index))
    )
    return d.select(F.col(id_col), _bm25_sum(k1, b).alias("score"))


def ann_topk_stream(
    probes,
    index,
    k: int = 5,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
    n_tables: int = 1,
    probe_hamming: int = 0,
):
    """Online retrieval: top-k cosine neighbors of ARRIVING probe vectors
    against the indexed corpus — the serving shape of the batch
    ``lsh_bucketed_topk``, over the whole ``bits × n_tables ×
    probe_hamming`` dial.

    ``probes`` may be a streaming frame; ``index`` is the static
    :func:`build_ann_index` output built with the same ``bits`` and
    ``n_tables``. The probe side, the scoring and the ranker
    (``similarity._rank_topk``: running top-k on a stream, the window
    on a batch frame) are the batch tier's own; only the prebuilt index
    differs. Plan per micro-batch, fully stateless: row-local probe
    signatures → stream-static equi-join on ``(tbl, bucket)`` →
    repartition by probe (a probe lives in exactly one micro-batch) →
    running per-probe top-k, each (probe, neighbor) pair kept once —
    which collapses the pairs that co-bucket in several tables at
    ``n_tables > 1`` with no streaming dropDuplicates and no keyed
    state. Ranking: cosine rounded to 6dp desc, neighbor id asc.
    """
    p = _ann_probes(
        probes, emb_col, id_col, bits, n_tables, probe_hamming,
        "ann_topk_stream",
    )
    # the PROBE micro-batch is broadcast explicitly (review r12): AQE
    # does not run inside streaming micro-batch plans and the static
    # planner sizes the stream side at defaultSizeInBytes, so without
    # the hint a large static index gets sort-merge SHUFFLED in its
    # entirety every trigger for a handful of probes. A serving
    # micro-batch is small by definition; batch-mode callers with huge
    # probe sets should use the batch tier (lsh_bucketed_topk), which
    # lets AQE pick the strategy.
    return _rank_topk(
        _cosine_scored(index.join(F.broadcast(p), ["tbl", "bucket"])), k
    )
