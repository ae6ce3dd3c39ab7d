"""Similarity search over embedding columns (array<float>).

Two tiers, per the scale plan:
- :func:`cosine_topk` — exact brute-force top-k. The probe side is
  broadcast; the corpus side streams through one codegen'd stage (dot
  products via ``aggregate``/``zip_with`` builtins — no Python). Cost is
  O(|probes| × corpus); right for small probe sets or as the oracle for
  approximate paths.
- :func:`lsh_bucketed_topk` — random-hyperplane LSH: corpus is bucketed by
  a b-bit signature per plane table (one shuffle), probes only scan their
  own buckets. The whole recall dial is ``bits × n_tables ×
  probe_hamming`` in this one function: ``bits`` sets bucket precision,
  ``n_tables`` adds independent plane tables, ``probe_hamming=1`` also
  probes each table's bit-flip buckets. The corpus index
  (:func:`build_ann_index`) and the probe-side signing are the same
  builders the streamed ``ingest.ann_topk_stream`` serves from. The
  100 TB path: bucket count scales with corpus size, per-bucket scans
  are bounded.
- :func:`ivf_assign` — the one IVF cell assignment (row-local, no window
  and no shuffle, legal on a stream), shared by every IVF/IVF-PQ search,
  store writer and streamed server.

Every search tier (exact, LSH, IVF, IVF-PQ, rerank) has ONE body that
takes a batch or a streaming ``probes`` frame: the candidate plans are
row-local or stream-static joins, and the rankers choose their form by
``isStreaming`` (:func:`_rank_topk`; the rerank's probe-vector carry).

All float math is cast to double with left-to-right accumulation so the
DuckDB oracle (list_dot_product over DOUBLE[]) matches bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from wingfoil_spark.session import materialize


#: THE canonical dot product as SQL text: a left-to-right double-cast
#: fold over two array names — the exact accumulation every DuckDB
#: oracle replays as ``list_dot_product``. Every similarity/serving path
#: builds its dot (and :func:`with_norm` its norm) from this ONE string;
#: touch it only with every oracle. ``{a}``/``{b}`` are INTERNAL names
#: (or lambda-variable fields inside a larger SQL text) — never a
#: caller's string; alias caller columns first (see `dedup`'s SQL-text
#: rule). SQL text costs ~3 py4j round trips to build, the Python-lambda
#: form ~120.
_DOT_SQL = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
    "CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
)


def _dot(a: str, b: str):
    """The canonical dot product (:data:`_DOT_SQL`) of two internal
    array columns."""
    return F.expr(_DOT_SQL.format(a=a, b=b))


def with_norm(df: DataFrame, emb_col: str = "embedding", out: str = "norm") -> DataFrame:
    """Add ``out`` = the L2 norm of ``emb_col``: the square root of the
    canonical fold of the vector with itself (an existing ``out`` column
    is replaced and moves last).

    One projection of SQL text over the internal alias ``__v``; the
    caller's ``emb_col`` resolves through the Column API (``df[emb_col]``),
    so no caller name is spliced into SQL text. ~9 py4j round trips to
    build, against 27 for the ``withColumn`` + ``F.sqrt`` + ``drop``
    chain."""
    drop = "__v" + (f", {_quote(out)}" if out in df.columns else "")
    return df.withColumn("__v", df[emb_col]).selectExpr(
        f"* EXCEPT ({drop})",
        f"sqrt({_DOT_SQL.format(a='__v', b='__v')}) AS {_quote(out)}",
    )


def _quote(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier: a column NAME, never
    an expression, whatever characters it holds."""
    return "`" + name.replace("`", "``") + "`"


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """THE cosine ranker of every search tier: ``scored`` rows
    ``(probe_id, neighbor_id, cosine)`` → ``(probe_id, neighbor_id,
    cosine, rank int)``, each (probe, neighbor) pair kept once at its
    best cosine, ranked by (cosine desc, neighbor asc), rank ≤ k.

    One ``repartition("probe_id")`` colocates each probe's candidates,
    then:

    - a batch frame takes the pair max + ``row_number`` window — both
      satisfied by that one exchange, which carries only the narrow
      scored columns;
    - a streaming frame (window functions are illegal there; a groupBy
      would drag in watermark state for per-batch-local work) takes the
      running top-k of :func:`_running_cosine_topk_iter` — exact because
      a probe lives in exactly one micro-batch.

    Keeping each pair once is what a store grown by appends (one id,
    several rows), a float corpus holding an id twice, or a pair
    co-bucketed in several LSH tables needs: a duplicate must not occupy
    two ranks and push a real neighbor out of the k."""
    scored = scored.repartition("probe_id")
    if scored.isStreaming:
        # id field types DERIVED from the inputs (string/UUID ids must
        # not fail on a hardcoded long)
        schema = (
            f"probe_id {scored.schema['probe_id'].dataType.simpleString()}, "
            f"neighbor_id "
            f"{scored.schema['neighbor_id'].dataType.simpleString()}, "
            "cosine double, rank int"
        )
        return scored.mapInPandas(_running_cosine_topk_iter(int(k)), schema)
    # SQL text over internal names: ~40 py4j round trips to build, the
    # Column-API form ~170
    return (
        scored.groupBy("probe_id", "neighbor_id")
        .agg(F.expr("max(cosine) AS cosine"))
        .withColumn("rank", F.expr(
            "row_number() OVER (PARTITION BY probe_id "
            "ORDER BY cosine DESC, neighbor_id ASC)"
        ))
        .where(f"rank <= {int(k)}")
    )


def _running_cosine_topk_iter(kk: int):
    """mapInPandas iterator: RUNNING per-probe top-k over
    (probe_id, neighbor_id, cosine) rows, merged across Arrow batches
    under the (-cosine, neighbor_id) total order and flushed as ONE
    frame per partition (a per-probe yield would make one Arrow batch
    per probe — thousands of ≤k-row batches whose serialization
    dominates the flush). mapInPandas splits a partition into ~10k-row
    batches, so a per-batch groupby head(k) would emit up to k rows PER
    BATCH with ranks restarting at 1; selecting the k best is
    associative, so batch-wise merge + one emission at exhaustion is
    exact in O(probes_in_partition × k) memory. Each (probe, neighbor)
    pair is kept ONCE (first occurrence under the rank order == best
    cosine), as the batch window's pair max does."""

    def topk(batches):
        best: dict = {}  # probe_id -> (cosines, neighbor_ids) top-k so far
        for pdf in batches:
            if not len(pdf):
                continue
            for probe_id, grp in pdf.groupby("probe_id", sort=False):
                cos = grp["cosine"].to_numpy(dtype=np.float64)
                ids = grp["neighbor_id"].to_numpy()
                if probe_id in best:
                    pcos, pids = best[probe_id]
                    cos = np.concatenate([pcos, cos])
                    ids = np.concatenate([pids, ids])
                order = np.lexsort((ids, -cos))
                cos, ids = cos[order], ids[order]
                keep = np.sort(np.unique(ids, return_index=True)[1])[:kk]
                best[probe_id] = (cos[keep], ids[keep])
        if best:
            yield pd.concat(
                [
                    pd.DataFrame({
                        "probe_id": probe_id,
                        "neighbor_id": ids,
                        "cosine": cos,
                        "rank": np.arange(1, len(ids) + 1),
                    })
                    for probe_id, (cos, ids) in best.items()
                ],
                ignore_index=True,
            )

    return topk


def cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors per probe (self-matches excluded).

    Output: probe_id, neighbor_id, cosine, rank. Cosine is rounded before
    ranking so rank order is reproducible cross-engine; ties break on
    neighbor id. ``probes`` may be a streaming frame (:func:`_rank_topk`).
    """
    c = with_norm(corpus, emb_col, "n_c").select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("e_c"), "n_c"
    ).where(F.col("n_c") > 0)  # zero/null vectors have no direction; ANSI
    # division would otherwise abort the whole job on one bad row
    p = with_norm(probes, emb_col, "n_p").select(
        F.col(id_col).alias("probe_id"), F.col(emb_col).alias("e_p"), "n_p"
    ).where(F.col("n_p") > 0)
    return _rank_topk(_cosine_scored(c.crossJoin(F.broadcast(p)), round_digits), k)


def _cosine_scored(cand: DataFrame, round_digits: int = 6) -> DataFrame:
    """Candidate pairs ``(probe_id, e_p, n_p, neighbor_id, e_c, n_c)`` →
    the ranker's ``(probe_id, neighbor_id, cosine)``: self-matches
    dropped, the canonical :data:`_DOT_SQL` over the two norms, rounded
    before ranking (SQL text over internal names)."""
    dot = _DOT_SQL.format(a="e_p", b="e_c")
    return cand.where("probe_id != neighbor_id").selectExpr(
        "probe_id", "neighbor_id",
        f"round({dot} / (n_p * n_c), {int(round_digits)}) AS cosine",
    )


def hyperplane_coefs(bits: int, dim: int, seed: str = "hp"):
    """Deterministic hyperplane matrix: coef(plane, dim) =
    (md5int('{seed}{p}:{d}') mod 2001 - 1000) / 1000 ∈ [-1, 1] —
    reproducible in any engine with md5 (the DuckDB oracle regenerates
    it verbatim). ``seed`` namespaces independent plane TABLES (r13:
    table 0 keeps the historical 'hp' seed so every existing bucket —
    and its oracle CTE — is unchanged; table t ≥ 1 uses 'hpT{t}p')."""
    import hashlib

    m = np.empty((bits, dim), dtype=np.float64)
    for p in range(bits):
        for d in range(dim):
            h = int(
                hashlib.md5(f"{seed}{p}:{d}".encode()).hexdigest()[:15], 16
            )
            m[p, d] = (h % 2001 - 1000) / 1000.0
    return m


def table_seed(t: int) -> str:
    """The per-table plane seed: table 0 is the historical 'hp' (bucket
    values — and the oracles that replay them — unchanged); later
    tables are 'hpT{t}p', giving md5('hpT1p{p}:{d}')-derived planes."""
    return "hp" if t == 0 else f"hpT{t}p"


def hamming1_explode(df: DataFrame, bits: int) -> DataFrame:
    """Explode the signed-off ``bucket`` column to itself + its ``bits``
    single-bit flips — the Hamming-1 multi-probe set, shared by every
    probing tier (batch and streamed; review r13 — four inline copies
    meant a probing-scheme change had four silent divergence points).
    The probed values (bucket ⊕ distinct masks incl. 0) are pairwise
    distinct, so downstream equi-joins against a one-bucket-per-row
    corpus side cannot produce duplicate pairs. One SQL expression over
    the internal ``bucket`` column (see `dedup`'s SQL-text rule)."""
    flips = "".join(f", bucket ^ {1 << b}" for b in range(int(bits)))
    return df.withColumn("bucket", F.expr(f"explode(array(bucket{flips}))"))


def hyperplane_signatures_multi(
    df: DataFrame,
    emb_col: str = "embedding",
    bits: int = 8,
    n_tables: int = 1,
    dim: int = 64,
) -> DataFrame:
    """b-bit random-hyperplane signatures for ``n_tables`` independent
    plane tables in ONE Arrow-batched pass: adds ``tbl`` and ``bucket``
    columns, one row per (input row, table) via posexplode. Table t's
    planes come from :func:`table_seed` (table 0 is the historical
    single-table bucket). NULL embeddings have no direction and no
    signature; they are dropped. This is the only hyperplane kernel:
    the LSH tiers, the ANN index and ``dedup.cosine_near_dups`` all sign
    through it.

    A pure-Catalyst formulation (bits × dim literal arrays folded per row)
    blows past the codegen method limit and falls back to interpreted
    expression evaluation (~8s at 500 rows); the vectorized kernel does the
    same math in milliseconds. Exactness: projections accumulate
    dim-SEQUENTIALLY (row-vectorized), the same order as a left fold, so
    buckets are bitwise-reproducible by the SQL oracle's list_reduce.
    The per-row cost is ``n_tables × bits × dim`` flops; one corpus scan
    builds every table.

    Optimizer contract: the kernel UDF is marked ``asNondeterministic()``
    so the optimizer cannot duplicate its evaluation (guide §4.4). The
    posexplode lets ``InferFiltersFromGenerate`` add
    ``size(sigs) > 0 AND isnotnull(sigs)``, and a consumer's equi-join
    infers ``isnotnull(bucket)``; pushed below the projection, either
    splits the UDF into two stacked ArrowEvalPython nodes, which run the
    kernel (and ship the embedding column to Python) twice per side.
    The values ARE deterministic — but the marking also stops
    deterministic filters from being pushed below the projection, and a
    consumer that places the UDF call itself in a position requiring
    determinism (join condition, some aggregate or streaming positions)
    will get an analysis error rather than the dedup. Callers should
    therefore filter/join on the projected ``tbl``/``bucket`` columns
    (as every in-repo consumer does), or materialize the signed frame
    with ``session.materialize`` at hot call sites (the cosine_near_dups pattern)
    when that is not possible."""
    if int(n_tables) < 1:
        raise ValueError(
            f"hyperplane_signatures_multi: n_tables must be >= 1, "
            f"got {n_tables}"
        )
    # NOT repartitioned here (unlike the dedup text kernels): the signature
    # kernel is light, and the ANN queries feed the bucketed frames
    # straight into broadcast joins — an extra round-robin shuffle ahead
    # of a broadcast build measured 1.5-4× slower and highly variable at
    # sf0.1
    df = df.where(F.col(emb_col).isNotNull())
    books = np.stack(
        [hyperplane_coefs(bits, dim, table_seed(t)) for t in range(n_tables)]
    )  # (L, bits, dim)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sigs_udf(emb: pd.Series) -> pd.Series:
        if not len(emb):
            return pd.Series([], dtype="object")
        arrs = [np.asarray(v, dtype=np.float64) for v in emb]
        if all(a.shape == (dim,) for a in arrs):
            m = np.stack(arrs)  # fast path: the well-formed batch
        else:
            # pad/truncate to the plane dimension: short vectors project
            # with missing dims = 0 (ragged or off-dim inputs must not
            # kill the job with an opaque IndexError/stack failure)
            m = np.zeros((len(emb), dim), dtype=np.float64)
            for i, a in enumerate(arrs):
                a = a[:dim]
                m[i, : len(a)] = a
        out = np.zeros((len(emb), len(books)), dtype=np.int64)
        for t in range(len(books)):
            for p in range(bits):
                acc = np.zeros(len(emb))
                row = books[t, p]
                for d in range(dim):  # sequential = the oracle's fold
                    acc = acc + m[:, d] * row[d]
                out[:, t] |= (acc > 0).astype(np.int64) << p
        return pd.Series(list(out))

    sigs_udf = sigs_udf.asNondeterministic()
    return (
        df.withColumn("__sigs", sigs_udf(F.col(emb_col)))
        .select("*", F.posexplode("__sigs").alias("tbl", "bucket"))
        .drop("__sigs")
    )


def build_ann_index(
    corpus: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
    n_tables: int = 1,
) -> DataFrame:
    """The corpus-side LSH index: ``(neighbor_id, e_c, tbl, bucket,
    n_c)`` — one row per (vector, plane table), every table's bucket
    from ONE signature pass, norm-annotated, zero/NULL vectors dropped.
    ``tbl`` is the plane table (always 0 at ``n_tables=1``); rankers
    probe the index on ``(tbl, bucket)``. :func:`lsh_bucketed_topk`
    builds it inline; the streamed ``ingest.ann_topk_stream`` serves
    from it persisted (parquet bucketed by ``(tbl, bucket)`` at scale).
    Pass the same ``bits``/``n_tables`` to the probe side."""
    c = hyperplane_signatures_multi(corpus, emb_col, bits, n_tables).select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("e_c"),
        "tbl", "bucket",
    )
    return with_norm(c, "e_c", "n_c").where(F.col("n_c") > 0)


def _ann_probes(
    probes: DataFrame,
    emb_col: str,
    id_col: str,
    bits: int,
    n_tables: int,
    probe_hamming: int,
    fn: str,
) -> DataFrame:
    """The probe side every LSH ranker joins against
    :func:`build_ann_index`: ``(probe_id, e_p, tbl, bucket, n_p)``,
    signed with the same plane tables, zero/NULL vectors dropped, and
    with ``probe_hamming=1`` exploded to each table's Hamming-1 buckets
    (:func:`hamming1_explode`). ``fn`` names the caller in the
    ``probe_hamming`` error."""
    if probe_hamming not in (0, 1):
        raise ValueError(
            f"{fn}: probe_hamming must be 0 (exact bucket) "
            "or 1 (bit-flip neighbors)"
        )
    p = hyperplane_signatures_multi(probes, emb_col, bits, n_tables).select(
        F.col(id_col).alias("probe_id"), F.col(emb_col).alias("e_p"),
        "tbl", "bucket",
    )
    p = with_norm(p, "e_p", "n_p").where(F.col("n_p") > 0)
    return hamming1_explode(p, bits) if probe_hamming == 1 else p


def lsh_bucketed_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
    n_tables: int = 1,
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates limited to the probe's LSH buckets.
    Same output shape as cosine_topk (rank within the candidates).

    The recall dial is ``bits × n_tables × probe_hamming``:

    - ``n_tables`` — L independent plane tables turn one bucket's hit
      probability p into 1−(1−p)^L (the classic amplification). ONE
      signature pass emits every table's bucket (posexplode to L
      rows/vector — the storage cost of any multi-table index) and ONE
      ``(tbl, bucket)`` equi-join restricts candidates. A pair can
      co-bucket in several tables; the ranker keeps each pair once
      (identical cosine per copy), so no embedding array crosses a
      pair-dedup shuffle.
    - ``probe_hamming=1`` — the MULTI-PROBE tier: the probe side also
      queries every bucket at Hamming distance 1 from its own signature
      in each table (bit-flip neighbors — the buckets a near-miss
      hyperplane vote lands in), the same amplification
      :func:`~wingfoil_spark.functions.dedup.cosine_near_dups` uses for
      near-dup pairs. It is a probe-side EXPLODE to ``bits + 1`` bucket
      values, so the candidate restriction STAYS an equi-join
      (shuffle-partitionable at any corpus size — never a theta-join or
      a popcount cross join). Within one table no dedup is needed: a
      corpus row carries exactly ONE bucket per table and the probed
      values (bucket ⊕ distinct masks) are pairwise distinct. Cost:
      ~``(bits+1)×`` the candidate rows of one bucket; recall on the
      isotropic testdata rises 0.05 → 0.18 at sf0.1 (RECALL.md's lsh_mp
      row). Only ``probe_hamming`` ∈ {0, 1} is supported — distance-2
      explodes ``1 + bits + C(bits,2)`` buckets and is where more tables
      beat deeper probing.

    The corpus index, the probe side and the ranker are the same
    builders (:func:`build_ann_index`, ``_ann_probes``,
    :func:`_rank_topk`) the streamed ``ingest.ann_topk_stream`` serves a
    prebuilt index with. Never a cross join; every stage is
    key-partitionable."""
    c = build_ann_index(corpus, emb_col, id_col, bits, n_tables)
    p = _ann_probes(
        probes, emb_col, id_col, bits, n_tables, probe_hamming,
        "lsh_bucketed_topk",
    )
    return _rank_topk(_cosine_scored(c.join(p, ["tbl", "bucket"])), k)


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    emb_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids (by cosine).
    Output keeps the input columns and adds ``cid`` — one row per
    (input row, assigned cell). Rows with a NULL or zero-norm vector have
    no direction and are dropped.

    Row-local: the centroid frame ``(cid, cvec, cnorm)`` — index
    metadata, n_centroids rows — is folded into ONE broadcast row holding
    its cid-sorted struct array, cross-joined onto every vector. Each row
    scores the canonical :func:`_dot` cosine against every centroid and
    keeps the first ``nprobe`` under (sim desc, cid asc) with
    ``array_sort`` + ``slice``. No window, no shuffle, no driver collect
    and no literal inlining, so:

    - input rows that share an id (a re-crawled vector in a store
      append) are each assigned;
    - the build costs a constant number of py4j round trips at any
      centroid count;
    - the plan is legal on a streaming frame (the probe assignment of
      every streamed IVF/IVF-PQ search).

    Zero-norm centroids are excluded (a take-fit can select a zero
    vector; ``ivf_centroids`` does not norm-filter): such a centroid has
    no direction and yields NaN similarities. An empty usable set fails
    the first action that assigns a row, with ``no usable centroids``.
    Pin a lazily-fit centroid frame first (``session.materialize``): its
    plan is embedded in every assignment, and a streaming query re-runs
    a static side each micro-batch."""
    # SQL text over internal names throughout: every Column-API call is
    # a py4j round trip, and each IVF/IVF-PQ search builds one or two
    # assignments (test_ivf_assign_build_py4j_round_trips)
    cents = (
        centroids.where("cnorm > 0")
        .selectExpr(
            "array_sort(collect_list(named_struct("
            "'cid', cid, 'cvec', cvec, 'cnorm', cnorm))) AS __cents"
        )
        .selectExpr(
            "CASE WHEN size(__cents) > 0 THEN __cents ELSE raise_error("
            "'ivf_assign: no usable centroids (empty frame or all "
            "zero-norm)') END AS __cents"
        )
    )
    cos = _DOT_SQL.format(a="__e", b="c.cvec") + " / (__nrm * c.cnorm)"
    cells = (
        f"transform(slice(array_sort(transform(__cents, c -> named_struct("
        f"'sim', {cos}, 'cid', c.cid)), (a, b) -> CASE "
        "WHEN a.sim > b.sim THEN -1 WHEN a.sim < b.sim THEN 1 "
        "WHEN a.cid < b.cid THEN -1 WHEN a.cid > b.cid THEN 1 ELSE 0 END), "
        f"1, {int(nprobe)}), s -> s.cid)"
    )
    keep = [_quote(c) for c in df.columns]
    return (
        df.withColumn("__e", F.col(emb_col))
        .selectExpr("*", f"sqrt({_DOT_SQL.format(a='__e', b='__e')}) AS __nrm")
        .where("__nrm > 0")
        .crossJoin(F.broadcast(cents))
        .selectExpr(*keep, f"explode({cells}) AS cid")
    )


#: fit="lloyd" defaults — shared by the Spark fit and the DuckDB oracle
#: replay (the graded decon_stream part='ivf_lloyd' unrolls exactly
#: LLOYD_ITERS iteration CTEs over the same LLOYD_SAMPLE_N-row sample).
LLOYD_ITERS = 4
LLOYD_SAMPLE_N = 512


def _lloyd_fit_np(X: np.ndarray, n_centroids: int, iters: int) -> np.ndarray:
    """The numpy half of the deterministic Lloyd fit (see
    :func:`ivf_centroids` ``fit='lloyd'`` for the full recipe and
    engine-neutrality argument). ``X`` is the ALREADY norm-filtered,
    id-ordered, sample-limited float64 matrix; returns the
    ``n_centroids × dim`` centroid matrix after ``iters`` steps.
    Factored out so the hypothesis differential can drive exactly this
    function against the shared SQL generator without a SparkSession."""
    if len(X) < n_centroids:
        raise ValueError(
            f"ivf_centroids(fit='lloyd'): sample has {len(X)} nonzero "
            f"vectors < n_centroids={n_centroids}"
        )

    def half_up6(a):
        return np.floor(a * 1e6 + 0.5) / 1e6

    def seq_sqnorm(M):
        # strict left-fold Σ m_d², one dim at a time: the accumulation
        # order is ((m1²+m2²)+m3²)+... — the SAME order the SQL replay's
        # list_reduce evaluates, so the float64 result is bit-identical
        # across engines (numpy's .sum() is pairwise, BLAS matmul is
        # blocked — both accumulate in engine-chosen orders; ADVICE r12)
        acc = M[:, 0] * M[:, 0]
        for d in range(1, M.shape[1]):
            acc = acc + M[:, d] * M[:, d]
        return acc

    def seq_dots(A, B):
        # strict left-fold A·Bᵀ (n×k), dim at a time — same order note
        acc = A[:, 0][:, None] * B[:, 0][None, :]
        for d in range(1, A.shape[1]):
            acc = acc + A[:, d][:, None] * B[:, d][None, :]
        return acc

    nrm = np.sqrt(seq_sqnorm(X))
    q = np.floor(X * 1e9 + 0.5)  # exact integer-valued float64
    C = half_up6(X[:n_centroids].copy())
    for _ in range(int(iters)):
        cn = np.sqrt(seq_sqnorm(C))
        den = nrm[:, None] * cn[None, :]
        sims = np.divide(
            seq_dots(X, C), den,
            out=np.full((len(X), n_centroids), -np.inf),
            where=den > 0,
        )
        assign = sims.argmax(axis=1)  # first max == lowest cid on ties
        newC = C.copy()
        for c in range(n_centroids):
            m = assign == c
            if m.any():
                newC[c] = half_up6(q[m].sum(axis=0) / 1e9 / m.sum())
        C = newC
    return C


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    fit: str = "take",
    iters: int = LLOYD_ITERS,
    sample_n: int = LLOYD_SAMPLE_N,
) -> DataFrame:
    """IVF "training" frame (cid, cvec, cnorm).

    ``fit="kmeans"`` — seeded pyspark.ml KMeans (seed=7, deterministic
    given the corpus), giving centroids that actually tile the data —
    measurably better recall at the same nprobe than an arbitrary sample
    (pinned by test_kmeans_centroids_beat_take_recall). Not cross-engine
    oracle-reproducible (k-means|| init isn't expressible in the DuckDB
    twin).

    ``fit="lloyd"`` — the GRADED k-means tier (VERDICT r11 Next #2): a
    deterministic spherical-Lloyd fit whose every step is replayable in
    ANSI-ish SQL, so the production-shape fit (recall at parity with
    pyspark.ml KMeans — see RECALL.md) gets a real cross-engine
    CORRECTNESS row instead of a unit pin. Recipe, engine-neutral by
    construction:

    - sample = the first ``sample_n`` nonzero-norm vectors in ``id_col``
      order (driver-side numpy over a bounded `orderBy().limit()` pull,
      the :func:`pq_train` pattern — the fit is index metadata, never
      corpus-sized work);
    - init = the first ``n_centroids`` sample vectors, each coordinate
      rounded half-up to 6dp (``floor(x·1e6 + 0.5)/1e6`` — the explicit
      formula because engines disagree on round()'s half mode);
    - ``iters`` Lloyd steps: assign each sample vector to its max-cosine
      centroid (ties → lowest cid; zero-norm centroids can't win), then
      new centroid = coordinate mean of members — computed as EXACT
      integer arithmetic (coordinates quantized to 1e-9 integers, summed
      exactly — any order, any engine — then one double division chain
      ``(Σ/1e9)/n`` and the 6dp half-up round). Empty cluster keeps its
      previous centroid. The quantized sum is the same order-free trick
      as the streamed ``lm.lm_perplexity``; and the similarities feeding
      each argmax are computed with an explicitly ORDERED left fold on
      BOTH engines (a dim-at-a-time loop here, ``list_reduce`` in the SQL
      replay — ADVICE r12: numpy BLAS and a sequential SQL fold
      accumulate in different orders, so a real-data near-tie between
      two centroids could otherwise flip an assignment). With bit-identical fold
      inputs and IEEE-exact ``/``/``sqrt``, every iteration — sims,
      assignments, means — is bit-identical between numpy and the SQL
      replay by construction.

    ``fit="take"`` — the cheapest ORACLE tier: the ``n_centroids``
    lowest-id vectors via ``orderBy().limit()`` — a lazy TakeOrdered
    inside the plan, so building ``ivf_topk`` triggers no job, and the
    DuckDB oracle regenerates the centroids verbatim (ids are
    hash-distributed, so this is an arbitrary-but-reproducible sample;
    recall-poor — use where exact reproducibility at zero fit cost is
    the point). The assignment/search plan is identical for every fit."""
    if fit == "lloyd":
        sample = (
            with_norm(corpus.select(id_col, emb_col), emb_col, "__n")
            .where(F.col("__n") > 0)
            .orderBy(id_col)
            .limit(int(sample_n))
            .toPandas()
        )
        X = np.asarray(
            [np.asarray(e, dtype=np.float64) for e in sample[emb_col]]
        )
        C = _lloyd_fit_np(X, n_centroids, int(iters))
        spark = corpus.sparkSession
        cents = spark.createDataFrame(
            [(i, [float(x) for x in C[i]]) for i in range(n_centroids)],
            "cid int, cvec array<double>",
        )
        return with_norm(cents, "cvec", "cnorm")
    if fit == "kmeans":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector, vector_to_array

        feat = corpus.select(
            array_to_vector(F.col(emb_col).cast("array<double>")).alias("features")
        )
        model = KMeans(k=n_centroids, seed=7, maxIter=10).fit(feat)
        spark = corpus.sparkSession
        cents = spark.createDataFrame(
            [(i, list(map(float, c))) for i, c in enumerate(model.clusterCenters())],
            "cid int, cvec array<double>",
        )
        return with_norm(cents, "cvec", "cnorm")
    first = corpus.select(id_col, F.col(emb_col).alias("cvec")).orderBy(id_col).limit(n_centroids)
    w = Window.orderBy(id_col)  # n_centroids rows — single-task window is fine
    cents = first.select(
        (F.row_number().over(w) - 1).alias("cid"), "cvec"
    )
    return with_norm(cents, "cvec", "cnorm")


def _search_centroids(
    corpus, centroids, corpus_assign, n_centroids, emb_col, id_col, fit
) -> DataFrame:
    """The coarse centroid frame an IVF/IVF-PQ search runs under: the
    caller's shared ``centroids`` or a fresh fit of ``corpus``. A shared
    ``corpus_assign`` without its centroids is refused — an assignment
    is only meaningful with the centroids that made it (a fresh fit
    would probe the wrong cells silently)."""
    if corpus_assign is not None and centroids is None:
        raise ValueError(
            "corpus_assign= requires the matching centroids= frame "
            "(the one that produced the assignment)"
        )
    if centroids is not None:
        return centroids
    return ivf_centroids(corpus, n_centroids, emb_col, id_col, fit=fit)


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    fit: str = "kmeans",
    centroids: DataFrame | None = None,
    corpus_assign: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: corpus sharded into centroid buckets
    (one shuffle, done once and reusable); each probe scans only its
    ``nprobe`` nearest buckets — per-probe work is corpus/n_centroids ×
    nprobe instead of the full corpus. ``nprobe = n_centroids`` degrades to
    exact brute force (the recall-vs-cost dial).

    ``fit="kmeans"`` (default) trains seeded KMeans centroids — the
    production path; pass ``fit="take"`` for the deterministic
    oracle-reproducible tier (see :func:`ivf_centroids`).

    The 100 TB shape: bucket the corpus ONCE (write partitioned by cid),
    then every query joins only its buckets — partition pruning does the
    skipping.

    ``centroids`` / ``corpus_assign`` are the SHARED-SCAN hooks (mirroring
    ``ivfpq_topk``'s ``corpus_codes=``): a caller running several
    centroid-consuming searches over one corpus (ivf + ivfpq + semdedup,
    the graded ``ann`` union) fits the centroid frame once and assigns the
    corpus once (e.g. a checkpointed ``selection.semdedup_assign``), then
    feeds both here — this function then adds ZERO corpus-side fit or
    assignment scans of its own, only the probe assignment and the bucket
    join. Pin BOTH frames (``session.materialize``): a lazy
    take-fit centroid frame is a TakeOrdered whose full-corpus scan
    re-runs everywhere the plan embeds it, including the probe
    assignment here. ``corpus_assign`` needs ``(id_col, cid, emb_col)``; a ``__nrm``
    column (the ``semdedup_assign`` layout) is reused verbatim when
    present — it is the same left-to-right double sum-of-squares fold as
    :func:`with_norm`, so results are bitwise-unchanged.

    ``probes`` may be a streaming frame — online serving against a
    store-shaped ``corpus_assign`` (or :func:`ivf_topk_from_store`): the
    assignment is row-local, the probe micro-batch is the broadcast side
    of the stream-static ``cid`` join (no AQE runs in micro-batch plans,
    and the static store must never be shuffled per trigger), and
    :func:`_rank_topk` takes its streaming form. State is zero."""
    cents = _search_centroids(
        corpus, centroids, corpus_assign, n_centroids, emb_col, id_col, fit
    )
    asg = (
        corpus_assign
        if corpus_assign is not None
        else ivf_assign(corpus, cents, 1, emb_col)
    )
    keep = [F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("e_c"), "cid"]
    if "__nrm" in asg.columns:
        c = asg.select(*keep, F.col("__nrm").alias("n_c"))
    else:
        c = with_norm(asg.select(*keep), "e_c", "n_c")
    c = c.where(F.col("n_c") > 0)
    p = ivf_assign(probes, cents, nprobe, emb_col).select(
        F.col(id_col).alias("probe_id"), F.col(emb_col).alias("e_p"), "cid"
    )
    p = with_norm(p, "e_p", "n_p").where(F.col("n_p") > 0)
    return _rank_topk(_cosine_scored(c.join(F.broadcast(p), "cid")), k)


#: Sidecar filename for persisted-store metadata. Underscore-prefixed so
#: Spark's file index treats it like _SUCCESS (invisible to the parquet
#: reader) while living INSIDE the store directory — it travels with
#: every rename/copy of the store as one unit.
STORE_META_FILE = "_wingfoil_meta.json"


def _centroid_payload(centroids: DataFrame) -> list:
    """The (cid-ordered) centroid values as a JSON-ready nested list —
    both the digest input AND what the sidecar persists (Python float
    repr round-trips exactly, so persist → load → digest is stable).
    Bounded: n_centroids rows."""
    rows = sorted(
        centroids.select("cid", "cvec").collect(), key=lambda r: r["cid"]
    )
    return [[int(r["cid"]), [float(x) for x in r["cvec"]]] for r in rows]


def _centroid_digest_from_payload(payload: list) -> str:
    import hashlib
    import json

    return hashlib.md5(json.dumps(payload).encode()).hexdigest()


def _centroid_digest(centroids: DataFrame) -> str:
    """md5 over the (cid-ordered) centroid values — the identity of the
    geometry a store was written under."""
    return _centroid_digest_from_payload(_centroid_payload(centroids))


def _codebook_digest(codebooks: list) -> str:
    import hashlib
    import json

    payload = json.dumps(
        [[[float(x) for x in c] for c in b] for b in codebooks]
    )
    return hashlib.md5(payload.encode()).hexdigest()


def _write_sidecar(spark, path: str, payload: str) -> None:
    import os

    if "://" not in path:
        with open(os.path.join(path, STORE_META_FILE), "w") as f:
            f.write(payload)
        return
    from wingfoil_spark.functions.store_swap import _hadoop_fs

    fs, jvm = _hadoop_fs(spark, path)
    out = fs.create(
        jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/{STORE_META_FILE}"),
        True,
    )
    try:
        out.write(bytearray(payload.encode()))
    finally:
        out.close()


def _read_sidecar(spark, path: str) -> str | None:
    import os

    if "://" not in path:
        p = os.path.join(path, STORE_META_FILE)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return f.read()
    from wingfoil_spark.functions.store_swap import _hadoop_fs

    fs, jvm = _hadoop_fs(spark, path)
    jpath = jvm.org.apache.hadoop.fs.Path(
        f"{path.rstrip('/')}/{STORE_META_FILE}"
    )
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def read_store_meta(spark, path: str) -> dict | None:
    """The store's metadata sidecar (layout kind, geometry digests), or
    None for a store written before r14 / by an external tool — absence
    disables verification rather than failing (documented tolerance)."""
    import json

    raw = _read_sidecar(spark, path)
    return None if raw is None else json.loads(raw)


def load_store_centroids(spark, path: str) -> DataFrame | None:
    """The centroid frame ``(cid, cvec, cnorm)`` persisted INSIDE the
    store's metadata sidecar at write/refit time (r14) — the frame a
    reader needs to assign probes, loaded from the store itself so
    serving needs nothing but the path. ``None`` for a store written
    before the sidecar carried values (or externally)."""
    meta = read_store_meta(spark, path)
    if meta is None or "centroids" not in meta:
        return None
    cents = spark.createDataFrame(
        [(int(cid), [float(x) for x in vec])
         for cid, vec in meta["centroids"]],
        "cid int, cvec array<double>",
    )
    return with_norm(cents, "cvec", "cnorm")


def load_store_codebooks(spark, path: str) -> list | None:
    """The PQ codebooks persisted in an IVF-PQ store's sidecar (r14),
    or ``None`` when absent. A few KB-to-MB of floats — index metadata,
    exactly what ADC serving broadcasts anyway."""
    meta = read_store_meta(spark, path)
    if meta is None or "codebooks" not in meta:
        return None
    return meta["codebooks"]


def _require_store_centroids(spark, path: str, op: str) -> DataFrame:
    cents = load_store_centroids(spark, path)
    if cents is None:
        raise ValueError(
            f"{op}: centroids=None but the store at {path!r} carries no "
            "persisted centroid values (written pre-r14 or by an "
            "external tool) — pass the centroid frame explicitly"
        )
    return materialize(cents)


def _require_store_codebooks(spark, path: str, op: str) -> list:
    books = load_store_codebooks(spark, path)
    if books is None:
        raise ValueError(
            f"{op}: codebooks=None but the store at {path!r} carries no "
            "persisted codebooks (written pre-r14 or by an external "
            "tool) — pass them explicitly"
        )
    return books


def check_store_meta(
    spark,
    path: str,
    centroids: DataFrame | None = None,
    codebooks: list | None = None,
    op: str = "read",
) -> None:
    """Refuse to serve/append under MISMATCHED index metadata (r14): an
    IVF/IVF-PQ store searched or grown with centroids (or codebooks)
    other than the ones it was written under does not error — it
    silently returns wrong neighbors / splits cells across two
    geometries (the append_ivf_store docstring's warning, now enforced).
    Every writer records digests in :data:`STORE_META_FILE`; every
    reader/appender calls this. A store with NO sidecar (pre-r14,
    external) passes unchecked — the guard protects stores this
    library wrote, it does not gatekeep foreign layouts."""
    meta = read_store_meta(spark, path)
    if meta is None:
        return
    if centroids is not None and meta.get("centroid_digest"):
        got = _centroid_digest(centroids)
        if got != meta["centroid_digest"]:
            raise ValueError(
                f"{op}: centroid frame does not match the store at "
                f"{path!r} (digest {got[:12]}… vs the store's "
                f"{meta['centroid_digest'][:12]}…) — serving or growing "
                "under foreign centroids silently corrupts results; use "
                "the frame persisted beside the store, or rebuild"
            )
    if codebooks is not None and meta.get("codebook_digest"):
        got = _codebook_digest(codebooks)
        if got != meta["codebook_digest"]:
            raise ValueError(
                f"{op}: PQ codebooks do not match the store at {path!r} "
                f"(digest {got[:12]}… vs the store's "
                f"{meta['codebook_digest'][:12]}…) — ADC under foreign "
                "codebooks returns garbage distances; use the codebooks "
                "persisted beside the store, or rebuild"
            )


def write_ivf_store(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    fit: str = "kmeans",
    mode: str = "overwrite",
    centroids: DataFrame | None = None,
    corpus_assign: DataFrame | None = None,
    writers_per_cell: int = 1,
) -> DataFrame:
    """Persist the IVF layout the search functions are designed around:
    the corpus assigned to its nearest coarse centroid and written as
    parquet PARTITIONED BY cid — one directory per cell. This is the
    write-once step of the 100 TB recipe: every subsequent search reads
    only its ``nprobe`` cell directories (Catalyst partition pruning /
    dynamic partition pruning does the skipping — pinned by
    tests/test_similarity_ivf.py::test_ivf_store_partition_pruning), so
    per-query IO is corpus/n_centroids × nprobe, not the corpus.

    ``centroids=`` / ``corpus_assign=`` are the same shared-scan hooks
    as :func:`ivf_topk`: a pipeline that already fit and assigned the
    corpus (the graded ann union's checkpointed frames) writes the
    store with ZERO additional corpus scans — the write job itself is
    the only pass. The pair is one contract (an assignment is only
    meaningful with its producing centroids).

    Returns the centroid frame ``(cid, cvec, cnorm)`` — persist it
    beside the store (it is the index metadata a reader needs to assign
    probes). Deterministic for ``fit='take'``; ``fit='kmeans'`` is the
    production default (seeded, better-tiling cells)."""
    if corpus_assign is not None and centroids is None:
        raise ValueError(
            "corpus_assign= requires the matching centroids= frame "
            "(the one that produced the assignment)"
        )
    if centroids is not None:
        cents = centroids
    else:
        # pin the internal fit: the returned frame is index
        # METADATA (n_centroids rows) that every subsequent search
        # broadcasts — left lazy, a take-fit is a TakeOrdered whose
        # full-corpus scan re-runs inside every consumer (the write job,
        # then every from-store probe assignment)
        cents = materialize(ivf_centroids(
            corpus, n_centroids, emb_col, id_col, fit=fit
        ))
    if corpus_assign is not None:
        keep = [id_col, emb_col, "cid"]
        if "__nrm" in corpus_assign.columns:
            keep.append("__nrm")  # readers reuse the stored norm
        asg = corpus_assign.select(*keep)
    else:
        asg = ivf_assign(corpus, cents, 1, emb_col)
    _write_by_cell(asg, path, id_col, mode, writers_per_cell)
    import json

    cpay = _centroid_payload(cents)
    _write_sidecar(corpus.sparkSession, path, json.dumps({
        "layout": "ivf_float",
        "centroid_digest": _centroid_digest_from_payload(cpay),
        "centroids": cpay,
    }))
    return cents


def _write_by_cell(df, path, id_col, mode, writers_per_cell):
    """Cluster rows by cell before a cid-partitioned write: without it
    every upstream task opens a writer per cell it touches (tasks ×
    cells tiny files — listing/footer overhead dominates reads), and a
    bare repartition("cid") funnels each cell's FULL data into one task
    (a straggler at 100 TB where a cell is corpus/n_centroids). The
    deterministic id-hash salt keeps file counts bounded at
    cells × writers_per_cell while spreading each cell across
    writers_per_cell tasks — size it so one writer's slice fits an
    executor (e.g. cell_bytes / 512 MiB)."""
    w = max(1, int(writers_per_cell))
    if w == 1:
        df.repartition("cid").write.partitionBy("cid").mode(mode).parquet(path)
    else:
        (
            df.repartition("cid", F.pmod(F.xxhash64(F.col(id_col)), F.lit(w)))
            .write.partitionBy("cid").mode(mode).parquet(path)
        )


def ivf_topk_from_store(
    spark,
    path: str,
    centroids: DataFrame | None,
    probes: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Search a :func:`write_ivf_store` layout: assign probes to their
    ``nprobe`` nearest cells and brute-force ONLY those cells' rows.
    The cell restriction is the ``cid`` equi-join against the broadcast
    probe side — ``cid`` is the store's PARTITION column, so Spark's
    dynamic partition pruning turns the join into a directory skip: the
    scan never opens the other ``n_centroids − nprobe`` cells' files.
    Results are identical to :func:`ivf_topk` over the same corpus and
    centroids (same assignment, same ranking).

    ``centroids=None`` (r14) loads the frame the store itself persists
    (:func:`load_store_centroids`) — the store is self-describing, so
    serving needs nothing but the path; an explicitly-passed frame is
    digest-checked against the sidecar instead."""
    if centroids is None:
        centroids = _require_store_centroids(
            spark, path, "ivf_topk_from_store"
        )
    else:
        check_store_meta(spark, path, centroids, op="ivf_topk_from_store")
    store = spark.read.parquet(path)
    return ivf_topk(
        store,
        probes,
        k=k,
        nprobe=nprobe,
        emb_col=emb_col,
        id_col=id_col,
        centroids=centroids,
        corpus_assign=store,
    )


def append_ivf_store(
    new_vectors: DataFrame,
    path: str,
    centroids: DataFrame | None = None,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    writers_per_cell: int = 1,
) -> None:
    """Grow a :func:`write_ivf_store` layout incrementally: assign ONLY
    the arriving vectors to the EXISTING centroid frame and append their
    rows into the cid-partitioned directories — the vector-side analog
    of the fingerprint store's append-then-compact crawl recipe. Because
    assignment is per-row under a FROZEN centroid set, searching the
    appended store via :func:`ivf_topk_from_store` returns exactly what
    a full rebuild over (old corpus ∪ new vectors) with the same
    centroids would (test-pinned) — no reindexing job, no rewrite of the
    existing cells.

    Contracts a caller owns:

    - ``centroids`` MUST be the frame the store was built with (readers
      assign probes against it; appending under different centroids
      silently splits cells across two geometries — enforced by the
      sidecar digest when a frame is passed). ``centroids=None`` (r14)
      loads the frame the store itself persists — the safe default.
    - duplicate ids are NOT deduped here (an append is one narrow write,
      not a join) — run arrivals through the fingerprint store /
      ``dropDuplicates`` first, the same discipline as the crawl tier.
    - each append adds at most cells × ``writers_per_cell`` files; on a
      high-frequency append schedule, periodically run
      :func:`compact_cell_store` to re-bound file counts (rows moved,
      never rescored — search results unchanged), and re-FIT + rebuild
      when the data distribution has drifted enough that the frozen
      cells stop tiling it.

    Schema alignment: if the existing store carries the optional
    ``__nrm`` column (written from a norm-annotated assignment), the
    appended rows compute it too — a mixed layout would feed NULL norms
    to readers that reuse the stored norm."""
    from pyspark.errors import AnalysisException

    spark = new_vectors.sparkSession
    self_loaded = centroids is None
    if self_loaded:
        centroids = _require_store_centroids(
            spark, path, "append_ivf_store"
        )
    asg = ivf_assign(new_vectors, centroids, 1, emb_col)
    try:
        existing = spark.read.parquet(path).columns
    except AnalysisException as e:
        # first append into a fresh path — nothing to align with. ONLY
        # the missing-path condition may fall through: any OTHER
        # analysis failure on an EXISTING store (empty dir, corrupt
        # footer, unreadable schema) must raise, not silently append
        # norm-less rows that readers' n_c > 0 filter would then drop
        # (ADVICE r11 — that would be silent data loss, the exact mixed
        # layout the docstring warns against).
        cond = (
            e.getCondition() if hasattr(e, "getCondition")
            else e.getErrorClass()
        )
        if cond != "PATH_NOT_FOUND":
            raise
        existing = []
    if existing and not self_loaded:
        # growing an EXISTING store under foreign centroids silently
        # splits cells across two geometries — refuse (r14, enforced
        # from the docstring's caller contract; a self-loaded frame IS
        # the store's own, no digest round trip needed)
        check_store_meta(spark, path, centroids, op="append_ivf_store")
    if "__nrm" in existing:
        asg = with_norm(asg, emb_col, "__nrm")
    _write_by_cell(asg, path, id_col, "append", writers_per_cell)


def compact_cell_store(
    spark,
    path: str,
    id_col: str = "vec_id",
    writers_per_cell: int = 1,
    swap_strategy: str = "auto",
) -> int:
    """Re-bound the file count of an append-grown cell store (either the
    float :func:`write_ivf_store` layout or the codes-only
    :func:`write_ivfpq_store` layout — the compactor is schema-agnostic:
    it rewrites whatever columns the store carries, partitioned by
    ``cid``): read → one :func:`_write_by_cell` rewrite into a temporary
    sibling → swap into place. Each :func:`append_ivf_store` /
    :func:`append_ivfpq_store` call adds up to cells × writers files;
    on a high-frequency append schedule this restores the
    ≤ cells × ``writers_per_cell`` shape without touching index metadata
    (centroids/codebooks stay frozen — rows are MOVED, never rescored,
    so search results are unchanged, test-pinned).

    Rows are not deduplicated (duplicate ids can be legitimate crawl
    state; dedup is the upstream fingerprint-gate's job — the same
    contract as the appends). Returns the row count of the compacted
    store (== the pre-compaction count; a cheap caller-side invariant).

    Same swap contract as
    :func:`~wingfoil_spark.streaming.ingest.compact_fingerprint_store`:
    two same-filesystem renames executed through
    :func:`~wingfoil_spark.functions.store_swap.swap_store_dirs`
    (``swap_strategy='auto'`` picks the Hadoop FileSystem API for
    hdfs://-style schemes and ``shutil`` renames for driver-local
    paths; see that module for the S3A caveat). Run from the
    maintenance job, never under a live reader OR a concurrent
    appender — but a schedule violation is no longer SILENT data loss
    (r13): just before the swap the live store is re-listed and any
    file appended since the compaction read aborts with
    ``ConcurrentAppendError`` (tmp removed, store untouched, retry
    after quiescing appends). Best-effort — the race window narrows
    from the whole rewrite to the re-list→rename instant; the
    one-maintenance-schedule contract still stands.

    The returned count is observed on the rewrite job itself
    (``df.observe``) — the store is scanned exactly once per
    compaction (VERDICT r12: the old verify-read was a second full
    scan of data just written, double I/O on an op meant for 100 TB
    stores)."""
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
    df = spark.read.parquet(base)
    if "cid" not in df.columns:
        raise ValueError(
            f"compact_cell_store: {base!r} is not a cell store "
            "(no cid partition column)"
        )
    files_at_read = set(df.inputFiles())
    obs = Observation()
    _write_by_cell(
        df.observe(obs, F.count(F.lit(1)).alias("n")),
        tmp, id_col, "overwrite", writers_per_cell,
    )
    n = obs.get["n"]
    # the metadata sidecar (r14) must survive compaction — the rewrite
    # wrote only parquet into tmp; carry the digests over BEFORE the
    # swap so readers keep their mismatch guard on the compacted store
    meta_raw = _read_sidecar(spark, base)
    if meta_raw is not None:
        _write_sidecar(spark, tmp, meta_raw)
    guard_no_new_files(spark, base, files_at_read, tmp)
    swap_store_dirs(spark, base, tmp, old, strategy=swap_strategy)
    return n


def delete_from_cell_store(
    spark,
    path: str,
    ids,
    id_col: str = "vec_id",
    writers_per_cell: int = 1,
    swap_strategy: str = "auto",
) -> int:
    """Remove rows by id from a cell store (either layout) — the
    DELETE leg of the store lifecycle (takedowns, GDPR erasure,
    crawl retractions): anti-join rewrite into a temporary sibling +
    the :func:`compact_cell_store` guard/swap, with the metadata
    sidecar carried over untouched (rows removed, never rescored —
    geometry unchanged, search results over survivors identical to a
    rebuild without the victims). Returns the number of rows removed
    (every copy of a duplicated id is removed).

    ``ids`` is a DataFrame carrying ``id_col``, or any iterable of id
    values (inlined as a literal set when small). Cost is the
    compactor's — one scan, one cell-partitioned rewrite; at 100 TB
    batch deletions and fold them into the compaction window exactly
    as LSM stores fold tombstones. A concurrent append aborts with
    ``ConcurrentAppendError`` (store untouched, retry after
    quiescing)."""
    import uuid

    from pyspark.sql import Observation

    from wingfoil_spark.functions.store_swap import (
        guard_no_new_files,
        swap_store_dirs,
        validate_swap_strategy,
    )

    validate_swap_strategy(swap_strategy)
    base = path.rstrip("/")
    tmp = f"{base}.delete-{uuid.uuid4().hex[:12]}"
    old = f"{base}.old-{uuid.uuid4().hex[:12]}"
    df = spark.read.parquet(base)
    if "cid" not in df.columns:
        raise ValueError(
            f"delete_from_cell_store: {base!r} is not a cell store "
            "(no cid partition column)"
        )
    files_at_read = set(df.inputFiles())
    obs_in, obs_out = Observation(), Observation()
    observed = df.observe(obs_in, F.count(F.lit(1)).alias("n"))
    if isinstance(ids, DataFrame):
        victims = ids.select(F.col(id_col)).dropDuplicates([id_col])
        kept = observed.join(F.broadcast(victims), id_col, "left_anti")
    else:
        vals = list(ids)
        if not vals:
            return 0
        kept = observed.where(~F.col(id_col).isin(vals))
    _write_by_cell(
        kept.observe(obs_out, F.count(F.lit(1)).alias("n")),
        tmp, id_col, "overwrite", writers_per_cell,
    )
    n_deleted = int(obs_in.get["n"] - obs_out.get["n"])
    meta_raw = _read_sidecar(spark, base)
    if meta_raw is not None:
        _write_sidecar(spark, tmp, meta_raw)
    guard_no_new_files(spark, base, files_at_read, tmp)
    swap_store_dirs(spark, base, tmp, old, strategy=swap_strategy)
    return n_deleted


def describe_cell_store(
    spark,
    path: str,
    target_rows_per_cell: int | None = None,
    max_files_per_cell: int = 8,
) -> dict:
    """The maintenance dashboard for a cell store: layout, row/cell/
    file counts, cell-balance skew, metadata presence — the numbers an
    operator reads to DECIDE between :func:`compact_cell_store` (file
    sprawl from appends) and :func:`refit_cell_store` (drifted or
    overgrown cells), plus explicit recommendations applying the same
    thresholds the ops themselves use. Cost: one partition-column-only
    scan (no data pages — cid comes from directory names) plus the
    file listing; safe to run on a schedule against a 100 TB store."""
    df = spark.read.parquet(path.rstrip("/"))
    if "cid" not in df.columns:
        raise ValueError(
            f"describe_cell_store: {path!r} is not a cell store "
            "(no cid partition column)"
        )
    per_cell = {
        int(r["cid"]): int(r["n"])
        for r in df.groupBy("cid").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    n_rows = sum(per_cell.values())
    n_cells = len(per_cell)
    mean_rows = n_rows / n_cells if n_cells else 0.0
    max_rows = max(per_cell.values()) if per_cell else 0
    import re as _re

    files_per_cell: dict = {}
    for f in df.inputFiles():
        m = _re.search(r"cid=(\d+)/", f)
        if m:
            c = int(m.group(1))
            files_per_cell[c] = files_per_cell.get(c, 0) + 1
    meta = read_store_meta(spark, path)
    layout = (meta or {}).get("layout") or (
        "ivfpq_codes" if "pq_code" in df.columns else "ivf_float"
    )
    out = {
        "layout": layout,
        "n_rows": n_rows,
        "n_cells": n_cells,
        "mean_rows_per_cell": round(mean_rows, 1),
        "max_rows_per_cell": max_rows,
        "cell_skew_max_over_mean": round(max_rows / mean_rows, 3)
        if mean_rows else None,
        "max_files_per_cell": max(files_per_cell.values())
        if files_per_cell else 0,
        "n_files": sum(files_per_cell.values()),
        "has_metadata_sidecar": meta is not None,
        "self_describing": bool(meta and "centroids" in meta),
    }
    recs = []
    if out["max_files_per_cell"] > max_files_per_cell:
        recs.append(
            f"compact: {out['max_files_per_cell']} files in the worst "
            f"cell (> {max_files_per_cell}) — run compact_cell_store "
            "to re-bound listing/footer overhead"
        )
    if out["cell_skew_max_over_mean"] and out[
        "cell_skew_max_over_mean"
    ] > 1.5:
        recs.append(
            f"refit: worst cell holds "
            f"{out['cell_skew_max_over_mean']}x the mean — the "
            "geometry no longer tiles the data (the drift signature); "
            "run refit_cell_store"
        )
    if target_rows_per_cell and mean_rows > target_rows_per_cell:
        recs.append(
            f"refit: {out['mean_rows_per_cell']} mean rows/cell exceeds "
            f"the {target_rows_per_cell} target — run "
            "refit_cell_store(n_centroids='auto') to grow the cell "
            "count and hold per-query IO constant"
        )
    if meta is None:
        recs.append(
            "metadata: no sidecar (pre-r14/external store) — serving "
            "requires explicit centroid frames and mismatch is "
            "unguarded; rewrite via write_*_store or refit to adopt"
        )
    out["recommendations"] = recs
    return out


def refit_cell_store(
    spark,
    path: str,
    n_centroids: int | str = 16,
    fit: str = "lloyd",
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks: list | None = None,
    writers_per_cell: int = 1,
    swap_strategy: str = "auto",
    target_rows_per_cell: int = 1_000_000,
    max_centroids: int = 65_536,
) -> DataFrame:
    """Re-fit the coarse quantizer of a drifted cell store IN PLACE —
    the lifecycle stage the append contract defers to the caller
    ("periodic re-fit on distribution drift"): after enough appends the
    frozen centroids no longer tile the data, so recall decays even
    though every result is still "correct" under the stale geometry.
    Reads the CURRENT store contents, fits fresh centroids
    (:func:`ivf_centroids`, default the deterministic ``fit='lloyd'``;
    ``n_centroids`` may differ from the old cell count — grow it as the
    store grows, or pass ``n_centroids="auto"`` to SIZE IT FROM THE
    STORE: ``clamp(ceil(rows / target_rows_per_cell), old_cells,
    max_centroids)`` — the scale dial a growing corpus actually needs
    (per-query IO is cell_rows × nprobe, so holding cell SIZE constant
    as the corpus grows holds query cost constant; the row count comes
    from parquet footer metadata, not a scan, and auto never SHRINKS
    below the current cell count — a deliberate downsize is an explicit
    integer). With the lloyd fit the sample is widened to
    ``max(LLOYD_SAMPLE_N, 4 × n_centroids)`` so the take-init has
    vectors to draw from), re-assigns every row, rewrites partitioned by the new
    cid into a temporary sibling and atomically swaps (the
    :func:`compact_cell_store` guard/swap contract: a concurrent append
    aborts with ``ConcurrentAppendError``, store untouched). Returns
    the NEW centroid frame. The metadata sidecar is rewritten with its
    digest, so a reader still holding the pre-refit frame is REFUSED by
    :func:`check_store_meta` instead of silently searching the wrong
    cells.

    Works on both layouts:

    - float (:func:`write_ivf_store`): fit + re-assign on the stored
      vectors — rebuild-equivalent to ``write_ivf_store`` over the same
      rows (test-pinned).
    - codes-only (:func:`write_ivfpq_store`): PQ codes encode the
      NORMALIZED VECTOR ITSELF, not a centroid residual, so they are
      geometry-independent of the coarse centroids — the refit needs NO
      float corpus. Reconstruct approximate unit vectors from the codes
      (:func:`pq_decode`, pure JVM), fit + re-assign on the
      reconstructions, carry the codes over byte-identical. Pass the
      ``codebooks=`` the store was written with (verified against the
      sidecar).

    Maintenance-job economics: one store scan feeding one
    cell-partitioned rewrite (the compactor's cost) plus the bounded
    driver-side fit sample — the fit is index metadata, never
    corpus-sized work. Input and output row counts are observed on the
    SAME write job and must match: a droppable row (NULL/zero-norm
    vector — impossible in a library-written store, whose write path
    applies the same filter) aborts before the swap rather than
    silently shrinking the store."""
    import json
    import uuid

    from pyspark.sql import Observation

    from wingfoil_spark.functions.store_swap import (
        _hadoop_fs,
        guard_no_new_files,
        swap_store_dirs,
        validate_swap_strategy,
    )

    validate_swap_strategy(swap_strategy)
    base = path.rstrip("/")
    tmp = f"{base}.refit-{uuid.uuid4().hex[:12]}"
    old = f"{base}.old-{uuid.uuid4().hex[:12]}"
    raw = spark.read.parquet(base)
    if "cid" not in raw.columns:
        raise ValueError(
            f"refit_cell_store: {base!r} is not a cell store "
            "(no cid partition column)"
        )
    files_at_read = set(raw.inputFiles())
    if n_centroids == "auto":
        import math

        # sized from footer metadata (count pushdown) + the partition
        # listing — no data scan; never shrinks below the current cell
        # count (a deliberate downsize is an explicit integer)
        n_rows = raw.count()
        old_cells = raw.select("cid").distinct().count()
        n_centroids = min(
            int(max_centroids),
            max(int(old_cells),
                math.ceil(n_rows / int(target_rows_per_cell))),
        )
    elif not isinstance(n_centroids, int):
        raise ValueError(
            f"refit_cell_store: n_centroids must be an int or 'auto', "
            f"got {n_centroids!r}"
        )
    meta = read_store_meta(spark, base) or {}
    had_nrm = "__nrm" in raw.columns
    body = raw.drop("cid", "__nrm")
    if "pq_code" in body.columns:
        if codebooks is None:
            codebooks = load_store_codebooks(spark, base)
        if codebooks is None:
            raise ValueError(
                "refit_cell_store: a codes-only store carries no float "
                "vectors and this one persists no codebooks — pass the "
                "codebooks= it was written with (the reconstruction "
                "they define is the assignment input)"
            )
        check_store_meta(spark, base, codebooks=codebooks,
                         op="refit_cell_store")
        vec_col = "__recon"
        body = pq_decode(body, codebooks, out=vec_col)
        sidecar = {
            "layout": "ivfpq_codes",
            "codebook_digest": meta.get("codebook_digest")
            or _codebook_digest(codebooks),
            "codebooks": [[[float(x) for x in c] for c in b]
                          for b in codebooks],
        }
    else:
        vec_col = emb_col
        sidecar = {"layout": "ivf_float"}
    # the fit's bounded sample pull runs on an UNOBSERVED frame — an
    # Observation resolves after the first action that touches it, and
    # the fit's orderBy().limit() short-circuits the scan (a partial
    # count would poison the row-conservation check below)
    cents = materialize(ivf_centroids(
        body, n_centroids, vec_col, id_col, fit=fit,
        sample_n=max(LLOYD_SAMPLE_N, 4 * n_centroids),
    ))
    obs_in = Observation()
    # the appends legitimately carry duplicate ids (crawl state — the
    # compactor preserves them too); the row-local ivf_assign assigns
    # each of them, and the row-conservation check below pins that
    asg = ivf_assign(
        body.observe(obs_in, F.count(F.lit(1)).alias("n")),
        cents, 1, vec_col,
    )
    if vec_col == "__recon":
        asg = asg.drop("__recon")
    elif had_nrm:
        asg = with_norm(asg, emb_col, "__nrm")  # readers reuse it
    obs_out = Observation()
    _write_by_cell(
        asg.observe(obs_out, F.count(F.lit(1)).alias("n")),
        tmp, id_col, "overwrite", writers_per_cell,
    )
    n_in, n_out = obs_in.get["n"], obs_out.get["n"]
    if n_in != n_out:
        fs, jvm = _hadoop_fs(spark, tmp)
        fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), True)
        raise ValueError(
            f"refit_cell_store: re-assignment would drop "
            f"{n_in - n_out} of {n_in} rows (NULL or zero-norm "
            "assignment vectors) — store untouched; scrub the rows "
            "explicitly before refitting"
        )
    cpay = _centroid_payload(cents)
    sidecar["centroid_digest"] = _centroid_digest_from_payload(cpay)
    sidecar["centroids"] = cpay
    _write_sidecar(spark, tmp, json.dumps(sidecar))
    guard_no_new_files(spark, base, files_at_read, tmp)
    swap_store_dirs(spark, base, tmp, old, strategy=swap_strategy)
    return cents


def write_ivfpq_store(
    corpus: DataFrame,
    path: str,
    codebooks: list,
    n_centroids: int = 16,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    fit: str = "kmeans",
    mode: str = "overwrite",
    centroids: DataFrame | None = None,
    corpus_assign: DataFrame | None = None,
    corpus_codes: DataFrame | None = None,
    code_col: str = "pq_code",
    writers_per_cell: int = 1,
) -> DataFrame:
    """Persist the IVF-PQ layout — the full billion-vector disk shape:
    ``(id, pq_code)`` parquet partitioned by coarse cell, with the float
    vector column DROPPED at write time (the codes ARE the stored
    corpus; m smallints/vector ≈ 16-32× smaller scans than float32).
    Returns the centroid metadata frame; the codebooks are the other
    piece of index metadata (a few KB — store beside the parquet).
    Search with :func:`ivfpq_topk_from_store`.

    ``centroids=`` / ``corpus_assign=`` / ``corpus_codes=`` are the
    shared-scan hooks mirroring :func:`ivfpq_topk`: a pipeline that
    already fit, assigned and encoded (the graded ann union's
    checkpointed frames) writes the store from an id-equi-join of the
    two small frames — the corpus float vectors are touched ZERO
    additional times."""
    if corpus_assign is not None and centroids is None:
        raise ValueError(
            "corpus_assign= requires the matching centroids= frame "
            "(the one that produced the assignment)"
        )
    if centroids is not None:
        cents = centroids
    else:
        # same materialization rationale as write_ivf_store: the return
        # is broadcast metadata, a lazy fit re-scans the corpus per use
        cents = materialize(ivf_centroids(
            corpus, n_centroids, emb_col, id_col, fit=fit
        ))
    asg = (
        corpus_assign.select(id_col, "cid")
        if corpus_assign is not None
        else ivf_assign(corpus, cents, 1, emb_col).select(id_col, "cid")
    )
    if corpus_codes is not None:
        # LEFT join + raise_error on a missing code (ADVICE r10-low): the
        # old inner join silently wrote a SMALLER store when a stale or
        # partial codes frame didn't cover the assignment — the one
        # shared-scan hook without the loud centroids=/corpus_assign=
        # contract. The guard is an expression inside the write job
        # itself (no extra pass, no driver count): any uncovered id
        # fails the write with its id in the message.
        coded = asg.join(
            corpus_codes.select(F.col(id_col), F.col(code_col).alias("pq_code")),
            id_col,
            "left",
        ).select(
            F.col(id_col),
            F.col("cid"),
            F.when(
                F.col("pq_code").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "write_ivfpq_store: corpus_codes= does not "
                            "cover the assignment (no code for id "
                        ),
                        F.col(id_col).cast("string"),
                        F.lit("); re-encode or pass the matching frame"),
                    )
                ).cast(corpus_codes.schema[code_col].dataType),
            )
            .otherwise(F.col("pq_code"))
            .alias("pq_code"),
        )
    else:
        src = (
            corpus_assign.select(id_col, "cid", emb_col)
            if corpus_assign is not None
            else ivf_assign(corpus, cents, 1, emb_col)
        )
        coded = pq_encode(src, codebooks, emb_col).select(
            F.col(id_col), F.col("cid"), F.col("pq_code")
        )
    _write_by_cell(coded, path, id_col, mode, writers_per_cell)
    import json

    cpay = _centroid_payload(cents)
    _write_sidecar(corpus.sparkSession, path, json.dumps({
        "layout": "ivfpq_codes",
        "centroid_digest": _centroid_digest_from_payload(cpay),
        "codebook_digest": _codebook_digest(codebooks),
        "centroids": cpay,
        "codebooks": [[[float(x) for x in c] for c in b]
                      for b in codebooks],
    }))
    return cents


def ivfpq_topk_from_store(
    spark,
    path: str,
    centroids: DataFrame | None,
    codebooks: list | None,
    probes: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC search over a :func:`write_ivfpq_store` layout: probes assign
    to their ``nprobe`` cells, the store contributes ONLY those cells'
    code rows (``cid`` is the partition column — the equi-join against
    the broadcast probe side becomes a dynamic-partition-pruning
    directory skip), and the per-probe running top-k scores m
    byte-lookups per candidate. No float corpus column is ever read —
    it does not exist in the store. Results are identical to
    :func:`ivfpq_topk` under the same centroids/codebooks.

    ``centroids=None`` / ``codebooks=None`` (r14) load the metadata the
    store itself persists (:func:`load_store_centroids` /
    :func:`load_store_codebooks`) — ADC serving from nothing but the
    path; explicitly-passed metadata is digest-checked instead.
    ``probes`` may be a streaming frame (online ADC serving; the
    metadata is loaded and checked once, here)."""
    centroids, codebooks = _ivfpq_store_meta(
        spark, path, centroids, codebooks, "ivfpq_topk_from_store"
    )
    return _ivfpq_rank(
        spark.read.parquet(path), probes, centroids, codebooks, k, nprobe,
        emb_col, id_col,
    )


def _ivfpq_store_meta(spark, path, centroids, codebooks, op):
    """``(centroids, codebooks)`` of a :func:`write_ivfpq_store` layout:
    metadata passed as ``None`` loads from the store's sidecar, passed
    metadata is digest-checked against it."""
    check_cents, check_books = centroids, codebooks
    if centroids is None:
        centroids = _require_store_centroids(spark, path, op)
    if codebooks is None:
        codebooks = _require_store_codebooks(spark, path, op)
    check_store_meta(spark, path, check_cents, check_books, op=op)
    return centroids, codebooks


def append_ivfpq_store(
    new_vectors: DataFrame,
    path: str,
    centroids: DataFrame | None = None,
    codebooks: list | None = None,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    writers_per_cell: int = 1,
) -> None:
    """Incremental growth for the codes-only :func:`write_ivfpq_store`
    layout: assign + PQ-encode ONLY the arriving vectors under the
    FROZEN centroid/codebook metadata and append their ``(id, pq_code)``
    rows into the cid-partitioned directories. Search via
    :func:`ivfpq_topk_from_store` equals a full rebuild over the union
    corpus with the same metadata (test-pinned). Same caller contracts
    as :func:`append_ivf_store` (same centroids AND codebooks, dedup
    upstream, periodic :func:`compact_cell_store` to re-bound file
    counts / re-fit on distribution drift) — enforced when the store
    carries a metadata sidecar (r14, :func:`check_store_meta`).
    ``centroids=None`` / ``codebooks=None`` load the store's own
    persisted metadata — the safe default."""
    centroids, codebooks = _ivfpq_store_meta(
        new_vectors.sparkSession, path, centroids, codebooks,
        "append_ivfpq_store",
    )
    asg = ivf_assign(new_vectors, centroids, 1, emb_col)
    coded = pq_encode(asg, codebooks, emb_col).select(
        F.col(id_col), F.col("cid"), F.col("pq_code")
    )
    _write_by_cell(coded, path, id_col, "append", writers_per_cell)


def recall_at_k(
    exact: DataFrame,
    approx: DataFrame,
    k: int | None = None,
    probe_col: str = "probe_id",
    neighbor_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Recall@k of an approximate ANN result against the exact baseline —
    the metric every index tier here (LSH / IVF / PQ / IVF-PQ / int8 /
    the persisted stores) trades against cost, as a first-class op
    instead of ad-hoc test arithmetic.

    Both inputs are (probe, neighbor[, rank]) top-k frames (the common
    output shape of cosine_topk and every *_topk here). Returns one row
    per probe: ``n_exact``, ``n_hit`` (neighbors the approximate result
    recovered) and ``recall`` = n_hit/n_exact; probes the approximate
    tier missed ENTIRELY still appear (n_hit = 0) via the left join.
    Aggregate ``F.avg("recall")`` for the headline number.

    Plan: two small shuffles on the probe key (a groupBy per side after
    the inner join on (probe, neighbor)); inputs are k rows per probe, so
    this is index-metadata-sized work, never corpus-sized. Both sides are
    deduplicated on (probe, neighbor) first — a caller handing in a
    union of tiers or a frame with one pair at two ranks must not
    inflate n_hit through join multiplicity (recall could exceed 1)."""
    e, a = exact, approx
    if k is not None:
        e = e.where(F.col(rank_col) <= int(k))
        a = a.where(F.col(rank_col) <= int(k))
    e = e.select(probe_col, neighbor_col).dropDuplicates()
    a = a.select(probe_col, neighbor_col).dropDuplicates()
    n_exact = e.groupBy(probe_col).agg(F.count("*").alias("n_exact"))
    n_hit = (
        e.join(a, [probe_col, neighbor_col])
        .groupBy(probe_col)
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        n_exact.join(n_hit, probe_col, "left")
        .withColumn("n_hit", F.coalesce(F.col("n_hit"), F.lit(0)))
        .withColumn("recall", F.col("n_hit") / F.col("n_exact"))
    )


def quantize_embeddings(
    df: DataFrame,
    emb_col: str = "embedding",
    out: str = "q_embedding",
    scale_out: str = "q_scale",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column: per-vector
    scale = max|x| / 127, q_i = floor(x_i/scale + 0.5) ∈ [-127, 127]
    (explicit floor(+0.5) half-up — `round()` rounding modes differ
    across engines; this formula is bit-identical everywhere). The
    storage tier for data-scale embedding tables: 4× smaller scans, and
    ANN recall survives (test-pinned) because cosine is scale-invariant
    and 8 bits preserve direction.

    Pure Catalyst (transform/aggregate) — no Python. An all-zero vector
    quantizes to zeros with scale 0.
    """
    mx = F.aggregate(
        F.transform(F.col(emb_col), lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, v),
    )
    d = df.withColumn(scale_out, mx / F.lit(127.0))
    q = F.when(
        F.col(scale_out) == 0.0,
        F.transform(F.col(emb_col), lambda x: F.lit(0).cast("int")),
    ).otherwise(
        F.transform(
            F.col(emb_col),
            lambda x: F.floor(x.cast("double") / F.col(scale_out) + F.lit(0.5)).cast("int"),
        )
    )
    return d.withColumn(out, q)


def dequantize_embeddings(
    df: DataFrame,
    q_col: str = "q_embedding",
    scale_col: str = "q_scale",
    out: str = "embedding",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: x̂_i = q_i · scale (float32,
    the original column type). Max per-component error is scale/2."""
    return df.withColumn(
        out,
        F.transform(
            F.col(q_col), lambda q: (q.cast("double") * F.col(scale_col)).cast("float")
        ),
    )


# --------------------------------------------------- product quantization


#: pq_train(fit='lloyd') iteration count — more than the IVF fit's
#: LLOYD_ITERS because per-subspace k is larger (64-256 codewords vs 16
#: cells) and the subspace dimension smaller, so assignments keep moving
#: for a few more rounds before the codebook settles.
PQ_LLOYD_ITERS = 8


def _lloyd_l2_fit_np(S: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Deterministic per-subspace L2 Lloyd for ``pq_train(fit='lloyd')``
    (VERDICT r13 Next #3 — production codebooks with the r12 IVF-fit
    discipline): take-init from the first ``k`` subvectors, strict
    left-fold distance accumulation one dimension at a time, half-up-6
    centroid rounding, first-minimum tie-break — the same engine-neutral
    arithmetic rules as :func:`_lloyd_fit_np`, but under the metric PQ
    actually quantizes with (squared L2 per subspace; subvectors are not
    unit-norm, so the IVF fit's cosine assignment would be wrong here).
    ``S`` is the id-ordered, already-normalized sample's subspace slice."""
    if len(S) < k:
        raise ValueError(
            f"pq_train(fit='lloyd'): sample has {len(S)} vectors < k={k}"
        )

    def half_up6(a):
        return np.floor(a * 1e6 + 0.5) / 1e6

    q = np.floor(S * 1e9 + 0.5)  # exact integer-valued float64
    C = half_up6(S[:k].copy())
    for _ in range(int(iters)):
        # strict left-fold Σ_d (s_d - c_d)², dim at a time (the
        # _lloyd_fit_np ordering argument: numpy pairwise/BLAS blocked
        # sums accumulate in engine-chosen orders; a fixed order keeps
        # the fit replayable bit-for-bit on any engine)
        acc = (S[:, 0][:, None] - C[:, 0][None, :]) ** 2
        for d in range(1, S.shape[1]):
            acc = acc + (S[:, d][:, None] - C[:, d][None, :]) ** 2
        assign = acc.argmin(axis=1)  # first min == lowest code on ties
        newC = C.copy()
        for c in range(k):
            msk = assign == c
            if msk.any():
                newC[c] = half_up6(q[msk].sum(axis=0) / 1e9 / msk.sum())
        C = newC
    return C


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    fit: str = "take",
) -> list:
    """Train PQ codebooks: split the (L2-normalized) vector into ``m``
    subvectors and learn ``k`` centroids per subspace. Returns a plain
    ``m × k × (dim/m)`` nested list — a few KB, broadcast implicitly in
    every downstream closure; this is the whole point of PQ at the
    100 TB posture: the CODES are m bytes/vector (16-32× smaller than
    float32) and the only float state is this tiny codebook.

    ``fit="take"`` (default): centroids = the k lowest-id vectors'
    subvectors — deterministic, test/oracle-reproducible (the
    ivf_centroids policy, same trade-off). ``fit="lloyd"``: the
    PRODUCTION tier (r14) — per-subspace deterministic L2 Lloyd
    (:func:`_lloyd_l2_fit_np`: take-init, strict-fold arithmetic,
    half-up-6 rounding, :data:`PQ_LLOYD_ITERS` steps), mirroring how
    ``ivf_centroids(fit='lloyd')`` upgraded the IVF side; run with
    k=64-256 per subspace for real codebooks (recall pinned in
    RECALL.md / tests/test_ann_recall_floors.py). ``fit="kmeans"``:
    the older unrounded numpy Lloyd — kept for comparison; prefer
    'lloyd', whose arithmetic is engine-replayable."""
    sample = (
        corpus.select(id_col, emb_col).orderBy(id_col)
        .limit(max(k * 64, 1024))
        .toPandas()
    )
    if not len(sample):
        raise ValueError("pq_train: empty corpus")
    X = np.asarray([np.asarray(e, dtype=np.float64) for e in sample[emb_col]])
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    X = X / np.where(norms == 0, 1.0, norms)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    d_sub = dim // m
    books = []
    for j in range(m):
        sub = X[:, j * d_sub:(j + 1) * d_sub]
        cents = sub[:k].copy()
        if fit == "lloyd":
            cents = _lloyd_l2_fit_np(sub, k, PQ_LLOYD_ITERS)
        elif fit == "kmeans":
            for _ in range(10):  # bounded Lloyd; seeded by take-init
                d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
                assign = d2.argmin(axis=1)
                for c in range(k):
                    pts = sub[assign == c]
                    if len(pts):
                        cents[c] = pts.mean(axis=0)
        elif fit != "take":
            raise ValueError(f"unknown pq fit {fit!r}")
        books.append(cents.tolist())
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list,
    emb_col: str = "embedding",
    out: str = "pq_code",
) -> DataFrame:
    """Encode vectors to PQ codes: ``out`` is an ``array<smallint>`` of
    ``m`` centroid indexes (nearest centroid per L2-normalized
    subvector). Row-local Arrow-batched numpy — one pass, no shuffle;
    at scale this is the WRITE path of the compressed vector store
    (store codes + drop the float column: 16-32× smaller scans)."""
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    d_sub = books[0].shape[1]

    @F.pandas_udf(T.ArrayType(T.ShortType()))
    def enc(embs: pd.Series) -> pd.Series:
        out_codes = []
        for e in embs:
            if e is None:
                out_codes.append(None)
                continue
            x = np.asarray(e, dtype=np.float64)
            n = np.linalg.norm(x)
            if n > 0:
                x = x / n
            code = np.empty(m, dtype=np.int16)
            for j in range(m):
                sub = x[j * d_sub:(j + 1) * d_sub]
                d2 = ((books[j] - sub[None, :]) ** 2).sum(axis=1)
                code[j] = int(d2.argmin())
            out_codes.append(code.tolist())
        return pd.Series(out_codes)

    return df.withColumn(out, enc(F.col(emb_col)))


def pq_decode(
    df: DataFrame,
    codebooks: list,
    code_col: str = "pq_code",
    out: str = "embedding",
) -> DataFrame:
    """Reconstruct the approximate vector a PQ code stands for: the
    concatenation of each subspace's looked-up codebook centroid —
    ``decode(encode(x)) ≈ x/‖x‖`` (:func:`pq_encode` normalizes before
    encoding, so reconstructions live on the unit sphere up to
    quantization error; cosine against them is exactly the ADC
    approximation the serving tiers rank by).

    Pure JVM: the codebooks (a few KB) are inlined as a nested array
    literal and the lookup is ``flatten(transform(code, (c, j) →
    books[j][c]))`` — zero Python stages, whole-stage-codegen'd, so a
    100 TB codes-only store can materialize reconstructions as one
    columnar scan (the :func:`refit_cell_store` input). NULL codes
    decode to NULL."""
    books_lit = F.array(*[
        F.array(*[
            F.array(*[F.lit(float(x)) for x in cent]) for cent in book
        ])
        for book in codebooks
    ])
    recon = F.flatten(
        F.transform(
            F.col(code_col),
            lambda c, j: F.element_at(
                F.element_at(books_lit, j + F.lit(1)),
                c.cast("int") + F.lit(1),
            ),
        )
    )
    return df.withColumn(out, recon)


def _adc_topk_iter(books: np.ndarray, topk: int, carry_probe: bool = False):
    """Build the mapInPandas iterator for ADC top-k scoring.

    Keeps a RUNNING top-k per probe across Arrow batches: mapInPandas
    splits a partition into ~10k-row batches, so a per-batch groupby
    top-k would emit duplicate ranks and >k rows whenever one probe's
    candidate set spans batches (the round-5 ADVICE-high finding).
    Selecting the k smallest under the (dist, neighbor_id) total order is
    associative, so batch-wise merge + one emission at iterator
    exhaustion is exact AND memory-bounded: O(probes_in_partition × k)
    state, never the full candidate set. ``carry_probe`` also emits
    each probe's raw vector ``e_p`` on its rows (the streamed rerank's
    shortlist, see :func:`_exact_rerank`)."""
    m, kk_cent, d_sub = books.shape

    def adc(batches):
        tables: dict = {}   # probe_id -> m×k ADC lookup table
        eps: dict = {}      # probe_id -> the probe's raw vector
        best: dict = {}     # probe_id -> (dists, neighbor_ids) top-k so far
        for pdf in batches:
            if not len(pdf):
                continue
            for probe_id, grp in pdf.groupby("probe_id", sort=False):
                table = tables.get(probe_id)
                if table is None:
                    eps[probe_id] = grp["e_p"].iloc[0]
                    x = np.asarray(eps[probe_id], dtype=np.float64)
                    n = np.linalg.norm(x)
                    if n > 0:
                        x = x / n
                    table = np.empty((m, kk_cent), dtype=np.float64)
                    for j in range(m):
                        sub = x[j * d_sub:(j + 1) * d_sub]
                        table[j] = ((books[j] - sub[None, :]) ** 2).sum(axis=1)
                    tables[probe_id] = table
                codes = np.asarray(
                    [np.asarray(c, dtype=np.int64) for c in grp["code"]]
                )
                dists = table[np.arange(m)[None, :], codes].sum(axis=1)
                ids = grp["neighbor_id"].to_numpy()
                if probe_id in best:
                    pdists, pids = best[probe_id]
                    dists = np.concatenate([pdists, dists])
                    ids = np.concatenate([pids, ids])
                order = np.lexsort((ids, dists))
                dists, ids = dists[order], ids[order]
                # first occurrence per neighbor under the (dist, id)
                # order == best distance per pair: an append_ivfpq_store-
                # grown codes store may legitimately carry duplicate ids
                # (dedup is the caller's crawl-gate job), and a duplicate
                # must not occupy two ranks and push a real neighbor out
                # of the k (ADVICE r11 — the _running_cosine_topk_iter
                # fix, mirrored). Keeping only k distinct ids per merge
                # stays exact: anything dropped is dominated by k
                # distinct better candidates that remain forever.
                keep = np.sort(np.unique(ids, return_index=True)[1])[:topk]
                best[probe_id] = (dists[keep], ids[keep])
        if best:
            # one flush frame per partition (not per probe): a per-probe
            # yield becomes one Arrow batch per probe — thousands of
            # ≤k-row batches whose serialization dominates the flush
            yield pd.concat(
                [
                    pd.DataFrame({
                        "probe_id": probe_id,
                        "neighbor_id": ids,
                        "adc_dist": np.round(dists, 9),
                        "rank": np.arange(1, len(ids) + 1),
                        **({"e_p": [eps[probe_id]] * len(ids)}
                           if carry_probe else {}),
                    })
                    for probe_id, (dists, ids) in best.items()
                ],
                ignore_index=True,
            )

    return adc


def _adc_out_schema(probe_id_type, neighbor_id_type) -> str:
    """ADC output schema with id field types DERIVED from the inputs
    (string/UUID ids must not fail on a hardcoded `long`)."""
    return (
        f"probe_id {probe_id_type.simpleString()}, "
        f"neighbor_id {neighbor_id_type.simpleString()}, "
        "adc_dist double, rank long"
    )


def _ivfpq_rank(
    codes: DataFrame,
    probes: DataFrame,
    centroids: DataFrame,
    codebooks: list,
    k: int,
    nprobe: int,
    emb_col: str,
    id_col: str,
    carry_probe: bool = False,
) -> DataFrame:
    """THE IVF-PQ candidate tail, shared by :func:`ivfpq_topk`,
    :func:`ivfpq_topk_from_store` and both reranks: probes assign
    row-locally to their ``nprobe`` cells, the code rows ``(id_col,
    cid, pq_code)`` of those cells join on ``cid`` against the
    BROADCAST probe side (on a persisted store ``cid`` is the partition
    column, so the join prunes directories; a streaming probe
    micro-batch never shuffles the static codes), and the running ADC
    top-k of :func:`_adc_topk_iter` ranks per probe. A corpus row
    reaches one probe through at most one cell (corpus assignment is
    1-nearest), so no cross-cell dedup is needed. Output
    ``(probe_id, neighbor_id, adc_dist, rank)``, plus ``e_p`` with
    ``carry_probe``."""
    p = ivf_assign(probes, centroids, nprobe, emb_col).select(
        F.col(id_col).alias("probe_id"), F.col(emb_col).alias("e_p"), "cid"
    )
    cand = (
        codes.join(F.broadcast(p), "cid")
        .where(F.col("probe_id") != F.col(id_col))
        .select(
            "probe_id",
            F.col(id_col).alias("neighbor_id"),
            F.col("pq_code").alias("code"),
            "e_p",
        )
    )
    books = np.asarray([np.asarray(b, dtype=np.float64) for b in codebooks])
    schema = _adc_out_schema(
        probes.schema[id_col].dataType, codes.schema[id_col].dataType
    )
    if carry_probe:
        schema += f", e_p {probes.schema[emb_col].dataType.simpleString()}"
    return cand.repartition("probe_id").mapInPandas(
        _adc_topk_iter(books, int(k), carry_probe), schema
    )


def pq_topk(
    corpus_codes: DataFrame,
    probes: DataFrame,
    codebooks: list,
    k: int = 5,
    code_col: str = "pq_code",
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the probe stays a FULL vector,
    the corpus is only its PQ codes. Per probe, one ``m × k`` distance
    table (probe subvector vs every centroid); a corpus row's
    approximate squared L2 distance to the probe is then ``m`` table
    lookups — on L2-normalized vectors this ranks like cosine
    (||a−b||² = 2 − 2·cos). Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011 — the standard
    billion-vector search layout.

    Plan: probes (small) broadcast-joined against the code table, ADC
    via a vectorized numpy gather inside mapInPandas with a running
    per-probe top-k across Arrow batches (repartition on probe_id
    colocates a probe's candidates; the running merge makes the result
    batch-size-invariant — see :func:`_adc_topk_iter`).
    Output: probe_id, neighbor_id, adc_dist (ascending = nearest), rank.
    """
    books = np.asarray([np.asarray(b, dtype=np.float64) for b in codebooks])
    topk = int(k)

    # NULL guards (review r12): pq_encode emits NULL codes for NULL
    # embeddings — np.asarray(None) inside the ADC kernel would abort
    # the whole job on one bad row (the cosine_topk rationale); a NULL
    # probe embedding likewise has no distance table. Both drop here.
    p = probes.where(F.col(emb_col).isNotNull()).select(
        F.col(id_col).alias("probe_id"), F.col(emb_col).alias("e_p")
    )
    joined = corpus_codes.where(F.col(code_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"), F.col(code_col).alias("code")
    ).join(F.broadcast(p), F.col("probe_id") != F.col("neighbor_id"))

    schema = _adc_out_schema(
        probes.schema[id_col].dataType, corpus_codes.schema[id_col].dataType
    )
    return joined.repartition("probe_id").mapInPandas(
        _adc_topk_iter(books, topk), schema
    )


def ivfpq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    codebooks: list,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    fit: str = "take",
    corpus_codes: DataFrame | None = None,
    code_col: str = "pq_code",
    centroids: DataFrame | None = None,
    corpus_assign: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the full billion-vector composition — coarse IVF centroids
    bound WHICH rows are scanned (corpus/n_centroids × nprobe per
    probe), PQ codes bound WHAT each scanned row costs (m byte-lookups,
    no float vector ever read). This is :func:`ivf_topk`'s candidate
    plan feeding :func:`pq_topk`'s ADC scorer: corpus is assigned to its
    nearest coarse centroid and ENCODED once (both reusable, persisted
    at scale: parquet partitioned by cid, codes instead of floats);
    probes scan their ``nprobe`` nearest cells. Exactness caveat is
    PQ's, recall caveat is IVF's — both test-pinned separately; together
    they are the standard disk/memory layout for 100 TB of vectors.

    ``centroids`` / ``corpus_assign`` share the coarse fit + full-corpus
    assignment exactly as in :func:`ivf_topk` — with both a shared code
    table AND a shared assignment, this function touches the corpus
    vectors ZERO times.

    ``probes`` may be a streaming frame: online ADC serving against the
    shared code table (or :func:`ivfpq_topk_from_store`)."""
    cents, codes = _ivfpq_index(
        corpus, codebooks, n_centroids, emb_col, id_col, fit, corpus_codes,
        code_col, centroids, corpus_assign,
    )
    return _ivfpq_rank(
        codes, probes, cents, codebooks, k, nprobe, emb_col, id_col
    )


def _ivfpq_index(
    corpus, codebooks, n_centroids, emb_col, id_col, fit, corpus_codes,
    code_col, centroids, corpus_assign,
):
    """``(centroids, code rows (id_col, cid, pq_code))`` of an in-memory
    IVF-PQ search: the shared or freshly fit coarse centroids, and the
    corpus assigned to its nearest cell and PQ-encoded — or the shared
    ``corpus_codes`` / ``corpus_assign`` frames joined on id."""
    cents = _search_centroids(
        corpus, centroids, corpus_assign, n_centroids, emb_col, id_col, fit
    )
    if corpus_codes is not None:
        # persisted/shared code table: (id, pq_code). Skips the encode
        # pass — at scale the codes ARE the stored corpus (the float
        # column was dropped at write time), so this is the normal path;
        # only the coarse assignment still reads vectors (and a shared
        # corpus_assign= removes even that).
        c = (
            corpus_assign.select(id_col, "cid")
            if corpus_assign is not None
            else ivf_assign(corpus, cents, 1, emb_col).select(id_col, "cid")
        )
        return cents, c.join(
            corpus_codes.select(F.col(id_col), F.col(code_col).alias("pq_code")),
            id_col,
        )
    ca = (
        corpus_assign.select(id_col, "cid", emb_col)
        if corpus_assign is not None
        else ivf_assign(corpus, cents, 1, emb_col)
    )
    return cents, pq_encode(ca, codebooks, emb_col).select(
        F.col(id_col), F.col("cid"), F.col("pq_code")
    )


def ivfpq_rerank_topk(
    corpus: DataFrame,
    probes: DataFrame,
    codebooks: list,
    k: int = 5,
    shortlist: int = 50,
    n_centroids: int = 16,
    nprobe: int = 4,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    fit: str = "take",
    corpus_codes: DataFrame | None = None,
    code_col: str = "pq_code",
    centroids: DataFrame | None = None,
    corpus_assign: DataFrame | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """IVF-PQ candidate generation + EXACT re-rank of the ADC shortlist —
    the composition a production vector store actually serves with
    (Jégou et al. 2011 §V: ADC orders candidates, a verification pass
    re-scores the shortlist with true distances). r14, motivated by the
    planted-cluster recall arm: on clustered corpora the quantization
    tiers cannot resolve noise-level WITHIN-cluster distinctions (pq
    recall ~0.08 even with good codebooks), but they are excellent at
    finding the right NEIGHBORHOOD — so re-scoring the top-``shortlist``
    ADC candidates with exact cosine recovers near-exact recall at a
    bounded float-read cost.

    Stage 1 is :func:`ivfpq_topk` with ``k=shortlist`` — scans codes
    only, never a float vector. Stage 2 joins the shortlist ids back to
    the float corpus and scores TRUE cosine: at 100 TB this reads
    ``probes × shortlist`` vectors through an id equi-join (the float
    store is id-partitioned parquet — a shortlist lookup, not a scan),
    then takes the final top-k under the exact metric (cosine_topk's
    rounding + tie rules, so rerank(shortlist=corpus_size) degrades to
    exact by construction; a float corpus holding an id twice still
    ranks that neighbor once). ``probes`` may be a streaming frame (see
    :func:`_exact_rerank`). Output: probe_id, neighbor_id, cosine, rank.
    """
    cents, codes = _ivfpq_index(
        corpus, codebooks, n_centroids, emb_col, id_col, fit, corpus_codes,
        code_col, centroids, corpus_assign,
    )
    return _exact_rerank(
        codes, corpus, probes, cents, codebooks, k, shortlist, nprobe,
        emb_col, id_col, round_digits,
    )


def _exact_rerank(
    codes, float_corpus, probes, centroids, codebooks, k, shortlist, nprobe,
    emb_col, id_col, round_digits,
) -> DataFrame:
    """THE rerank body of :func:`ivfpq_rerank_topk` and
    :func:`ivfpq_rerank_from_store`: the ADC top-``shortlist`` of
    :func:`_ivfpq_rank`, looked up in ``float_corpus`` by id and
    re-scored with exact rounded cosine, ranked by :func:`_rank_topk`.

    Its one stream-only step: a streaming probe frame cannot be joined
    back (a shortlist↔probes join would be a stream-stream self-join,
    which Spark either rejects or turns into unbounded state), so the
    shortlist CARRIES each probe's vector (~shortlist copies of one
    array per probe) and is the broadcast side of the float lookup —
    the static float store is never shuffled per trigger. A batch
    shortlist joins the float corpus, then the broadcast probes."""
    streaming = probes.isStreaming
    short = _ivfpq_rank(
        codes, probes, centroids, codebooks, shortlist, nprobe, emb_col,
        id_col, carry_probe=streaming,
    )
    c = with_norm(float_corpus, emb_col, "n_c").select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("e_c"), "n_c",
    ).where(F.col("n_c") > 0)
    if streaming:
        cand = c.join(
            F.broadcast(short.select("probe_id", "neighbor_id", "e_p")),
            "neighbor_id",
        )
    else:
        p = probes.select(
            F.col(id_col).alias("probe_id"), F.col(emb_col).alias("e_p")
        )
        cand = (
            short.select("probe_id", "neighbor_id")
            .join(c, "neighbor_id")             # shortlist-bounded id lookup
            .join(F.broadcast(p), "probe_id")   # probes are the small side
        )
    cand = cand.withColumn("n_p", F.sqrt(_dot("e_p", "e_p")))
    return _rank_topk(
        _cosine_scored(cand.where(F.col("n_p") > 0), round_digits), k
    )


def ivfpq_rerank_from_store(
    spark,
    path: str,
    float_corpus: DataFrame,
    probes: DataFrame,
    centroids: DataFrame | None = None,
    codebooks: list | None = None,
    k: int = 5,
    shortlist: int = 50,
    nprobe: int = 4,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """:func:`ivfpq_rerank_topk` served from the PERSISTED codes store —
    the batch leg completing the rerank serving matrix (in-memory batch
    :func:`ivfpq_rerank_topk`, store:
    here — batch or streamed probes alike). Stage 1 ADC-generates the top-``shortlist`` from the
    codes-only store (:func:`ivfpq_topk_from_store`: DPP cell pruning,
    m byte-lookups per candidate — no float column exists in the
    store); stage 2 reads ONLY probes × shortlist float rows from
    ``float_corpus`` (at scale: the id-partitioned float table the
    codes were encoded from — a lookup through the id equi-join, never
    a scan) and takes the exact top-k under :func:`cosine_topk`'s
    rounding + tie rules. ``centroids=None`` / ``codebooks=None`` load
    the store's own persisted metadata, so serving needs the codes
    path plus the float table. Row-identical to
    :func:`ivfpq_rerank_topk` under the same metadata (test-pinned)."""
    centroids, codebooks = _ivfpq_store_meta(
        spark, path, centroids, codebooks, "ivfpq_rerank_from_store"
    )
    return _exact_rerank(
        spark.read.parquet(path), float_corpus, probes, centroids, codebooks,
        k, shortlist, nprobe, emb_col, id_col, round_digits,
    )
