"""Corpus-curation operators: deterministic sampling, domain mixing, and
token-budget sharding — the steps between "deduped corpus" and "training
shards" in an LLM data pipeline.

Everything here is DETERMINISTIC (md5-keyed, no RNG), for three reasons
that matter at 100 TB:
- reproducibility: a re-run over the same corpus yields byte-identical
  shards (lineage-stable training sets, resumable pipelines);
- exactness under retry: Spark may recompute partitions after executor
  loss; `rand()`-based sampling changes results per recompute, a
  hash-keyed predicate cannot;
- oracle-ability: every op has an exact ANSI-SQL twin (the DuckDB oracle
  reproduces md5 arithmetic bit-for-bit), so the curation query is graded
  like every other operator.

Scale shapes:
- :func:`hash_sample` / :func:`weighted_mix` are row-local filters —
  zero shuffle, fully pushed into the scan stage;
- :func:`stratified_take` is one shuffle on the stratum key (rank
  within group);
- :func:`token_budget_shards` is the one genuinely order-coupled step
  (shard boundaries are positional by definition); it runs as a
  two-phase distributed prefix sum — deterministic id-range buckets,
  per-bucket totals, driver-side prefix of the (tiny) bucket table,
  within-bucket windows — never as a single-task global window.

The reference engine has no curation tier; this extends the north-star
surface (BASELINE.json) alongside dedup/similarity/text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from wingfoil_spark.functions.text import token_count
from wingfoil_spark.session import materialize

#: hash domain: first 60 md5 bits (fits BIGINT in Spark and DuckDB alike)
HASH_SPACE = 1 << 60


def sample_hash(id_col: Column, tag: str) -> Column:
    """Deterministic per-row draw in [0, 2^60): first 60 bits of
    md5(tag || id). The tag acts as the seed — two samples with different
    tags are independent draws over the same rows."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(tag), id_col.cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")


def hash_sample(
    df: DataFrame, fraction: float, id_col: str = "doc_id", tag: str = "s"
) -> DataFrame:
    """Deterministic Bernoulli(fraction) sample: keep rows whose draw
    falls below fraction of the hash space. Row-local (no shuffle, no
    state); stable under recompute and across engines."""
    thr = int(fraction * HASH_SPACE)
    return df.where(sample_hash(F.col(id_col), tag) < F.lit(thr))


def weighted_mix(
    df: DataFrame,
    rates: dict[str, float],
    domain_col: str = "source",
    id_col: str = "doc_id",
    tag: str = "mix",
) -> DataFrame:
    """Domain mixing: per-domain deterministic sampling rates (e.g. keep
    100% of wiki, 30% of web) — the standard way training mixes are
    rebalanced. Domains absent from ``rates`` are DROPPED (explicit
    allowlist). Row-local, zero shuffle; the rate lookup is a literal
    CASE expression, not a join."""
    draw = sample_hash(F.col(id_col), tag)
    expr = F.lit(None).cast("bigint")
    for dom, rate in sorted(rates.items()):
        thr = int(rate * HASH_SPACE)
        expr = F.when(F.col(domain_col) == dom, F.lit(thr)).otherwise(expr)
    return df.where(draw < expr)


def stratified_take(
    df: DataFrame,
    n_per_group: int,
    group_col: str = "lang",
    id_col: str = "doc_id",
    tag: str = "strat",
    rank_col: str = "strat_rank",
) -> DataFrame:
    """Exactly-n-per-stratum sample: rank rows within each group by
    (hash draw, id) and keep the first n. Deterministic ties; one
    shuffle on the group key. The emitted rank (1..n) is the row's
    position in its stratum's draw order."""
    draw = sample_hash(F.col(id_col), tag)
    w = Window.partitionBy(group_col).orderBy(draw.asc(), F.col(id_col).asc())
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= n_per_group)
    )


def train_val_test_split(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    key_col: str = "doc_id",
    group_col: str | None = None,
    tag: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic, leakage-safe train/val/test assignment: one new
    column labelling each row's split, drawn from md5(tag || key) mapped
    into cumulative weight ranges (lexicographic split-name order — the
    range layout is part of the contract so re-runs and other engines
    reproduce it exactly).

    ``group_col`` is the LEAKAGE GUARD: when set, the draw key is the
    group value instead of the row id, so every row of a group (a URL
    domain, a near-dup cluster id from ``dedup_components``, a document
    family) lands in the SAME split — the standard defence against
    train/test contamination through near-duplicates. Evaluation rows
    that share a group with training rows simply cannot exist.

    Row-local (zero shuffle, pushes into the scan); adding a split is a
    projection, not a job. Weights must sum to 1 (±1e-9); the last range
    is closed at the top of the hash space so rounding slack cannot drop
    rows. A NULL key/group gets a NULL split — never a silent bucket: a
    row with no identity cannot be deterministically assigned, and
    funnelling all null-metadata docs into one split would correlate
    them (route nulls explicitly before splitting if they must train)."""
    if weights is None:
        weights = {"train": 0.98, "val": 0.01, "test": 0.01}
    key = F.col(group_col) if group_col else F.col(key_col)
    draw = sample_hash(key, tag)
    expr = None
    for name, thr in split_thresholds(weights):
        cond = draw < F.lit(thr)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(sorted(weights)[-1])
    labelled = last if expr is None else expr.otherwise(last)
    out = F.when(draw.isNull(), F.lit(None).cast("string")).otherwise(labelled)
    return df.withColumn(out_col, out)


def split_thresholds(weights: dict[str, float]) -> list:
    """The exact (name, upper_threshold) ranges
    :func:`train_val_test_split` assigns from — exposed so oracles and
    external systems replay the IDENTICAL integer arithmetic (float
    cumulative sums differ by association order; this is the one
    canonical order). Returns all splits except the last (which owns the
    remainder of the hash space)."""
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-empty and non-negative")
    if abs(sum(weights.values()) - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {sum(weights.values())}")
    names = sorted(weights)
    out, cum = [], 0.0
    for name in names[:-1]:
        cum += weights[name]
        out.append((name, int(cum * HASH_SPACE)))
    return out


def token_budget_shards(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    toks_col: str | None = None,
) -> DataFrame:
    """Contiguous token-range sharding: order the corpus by id, take the
    running token count, and assign each doc the shard holding its FIRST
    token (shard = floor(start_offset / budget)). Docs never split; a
    shard overruns the budget by at most one document — the standard
    greedy slicing that turns a corpus into ~budget-token training files.

    Emits (id, n_tokens, cum_tokens, shard).

    A global running sum is the one genuinely order-coupled curation
    step, and a bare ``Window.orderBy`` would put the whole corpus in ONE
    task. This computes it as a two-phase distributed prefix sum instead:

    1. bucket rows by deterministic equal-width id ranges (min/max from
       one tiny aggregate — no sampled partitioner, so every job over
       this plan sees identical bucket boundaries);
    2. per-bucket token totals (one narrow shuffle) → prefix offsets on
       the driver (n_buckets rows — bounded, not data-scale) broadcast
       back;
    3. running sum WITHIN each bucket (window partitioned by bucket) +
       the bucket's offset.

    Wall-clock scales as a hash shuffle of (id, n_tokens) — 16 B/row —
    never as a single-task sort. Bucket skew follows id clustering;
    dense ids (the normal case for a curated corpus) balance evenly.

    ``toks_col`` points at a precomputed token array (a pipeline that
    tokenizes the corpus once and feeds several curation steps); counts
    are identical to tokenizing ``text_col`` here.
    """
    spark = df.sparkSession
    # the caller's id resolves through F.col once, under an internal alias
    # that the SQL text below may name; the output restores its own name
    id_name = df.select(F.col(id_col)).columns[0]
    toks = df.select(
        F.col(id_col).alias("__id"),
        # NULL text contributes 0 tokens (not a null that poisons every
        # downstream cumulative sum) — the doc still occupies a row so
        # shard assignment covers the whole corpus
        F.coalesce(
            token_count(
                F.col(text_col),
                toks=F.col(toks_col) if toks_col else None,
            ).cast("long"),
            F.lit(0).cast("long"),
        ).alias("n_tokens"),
    )
    # materialize the NARROW (id, n_tokens) frame once: this function
    # runs two eager jobs (bucket totals below; previously also min/max)
    # plus the final windowed job, and without a checkpoint each one
    # re-tokenizes the corpus from the raw scan. 16 B/doc — the
    # scalar-level checkpoint that wins, unlike wide token-array
    # checkpoints (the r7/r9 curation A/B lesson); measured 1.06s→0.7s
    # at sf0.1.
    toks = materialize(toks)
    lo_hi = toks.agg(
        F.min("__id").alias("lo"), F.max("__id").alias("hi")
    ).collect()[0]
    if lo_hi["lo"] is None:
        return toks.withColumn("cum_tokens", F.lit(None).cast("long")).withColumn(
            "shard", F.lit(None).cast("long")
        ).withColumnRenamed("__id", id_name)
    id_sql_type = toks.schema["__id"].dataType.simpleString()
    if id_sql_type in ("tinyint", "smallint", "int", "bigint"):
        lo, hi = int(lo_hi["lo"]), int(lo_hi["hi"])
        key_sql = "cast(__id as bigint)"
    else:
        # String/UUID ids: equal-width ranges need arithmetic, so bucket
        # on an order-preserving numeric proxy — the 7 bytes after the
        # corpus-wide common id prefix, zero-right-padded, read big-endian
        # (7 bytes so the value fits a signed bigint). Proxy ties share a
        # bucket, which keeps ranges order-contiguous; within-bucket order
        # still uses the real id. Assumes binary-comparable ids (ASCII doc
        # keys / UUIDs — Spark's own string min/max order); id-ORDER
        # semantics are unchanged.
        import os

        lo_b = str(lo_hi["lo"]).encode("utf-8")
        hi_b = str(lo_hi["hi"]).encode("utf-8")
        p = len(os.path.commonprefix([lo_b, hi_b]))

        def _proxy(b: bytes) -> int:
            return int.from_bytes(b[p:p + 7].ljust(7, b"\x00"), "big")

        lo, hi = _proxy(lo_b), _proxy(hi_b)
        key_sql = (
            "cast(coalesce(nullif(conv(hex(rpad(substring("
            f"encode(cast(__id as string), 'UTF-8'), {p + 1}, 7), "
            "7, X'00')), 16, 10), ''), '0') as bigint)"
        )
    span = max(hi - lo + 1, 1)
    nb = min(n_buckets, span)
    width = -(-span // nb)  # ceil: bucket = (key - lo) // width ∈ [0, nb)
    # integer `div`, never float division: for id spans past 2^53 (this
    # library's own 60-bit md5-derived ids qualify) double rounding at the
    # top edge can land a row in bucket nb, which has no offsets row — the
    # inner join below would then silently drop it from the shard output
    bucketed = toks.withColumn(
        "__bkt", F.expr(f"(({key_sql}) - {lo}L) div {width}L")
    )
    totals = {
        int(r["__bkt"]): int(r["t"])
        for r in bucketed.groupBy("__bkt").agg(F.sum("n_tokens").alias("t")).collect()
    }
    offsets, acc = [], 0
    for b in range(nb):
        offsets.append((b, acc))
        acc += totals.get(b, 0)
    off_df = spark.createDataFrame(offsets, "__bkt long, __off long")
    w = Window.partitionBy("__bkt").orderBy(F.col("__id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = (
        bucketed.join(F.broadcast(off_df), "__bkt")
        .withColumn("cum_tokens", F.sum("n_tokens").over(w) + F.col("__off"))
        .drop("__bkt", "__off")
    )
    return out.withColumn(
        "shard",
        # same rule: exact integer div (cum/n are longs; a 100 TB corpus's
        # token total passes 2^53 long before its ids do)
        F.expr(f"(cum_tokens - n_tokens) div {int(budget)}L"),
    ).withColumnRenamed("__id", id_name)


def describe_corpus(
    df: DataFrame,
    text_col: str = "text",
    group_cols: tuple = ("lang", "source"),
    toks_col: str | None = None,
) -> DataFrame:
    """One-pass corpus observability summary, per group: doc count, token
    totals, mean quality, and approximate token quantiles — the report a
    curation pipeline logs between stages (did the mix shift? did dedup
    hollow out a domain?).

    One aggregation (one shuffle on the group key); quantiles are Spark's
    approx_percentile (bounded-error t-digest style sketch — exactness is
    the graded ops' job, observability wants cheap). Null text counts as
    a 0-token doc here, consistent with token_budget_shards.

    mean_quality is the mean of the per-doc scores QUANTIZED to 1e-9
    integers before the sum (round(q·1e9) as long, Σ/1e9/count(q)):
    summing longs is associative, so the reported mean is independent of
    partial-aggregation order — the same determinism device the LM
    stream tier uses for logprob means (ADVICE r9-low: an order-dependent
    double sum can flip round(·,4) within float error of a 0.00005
    boundary between engines). The denominator is count of NON-NULL
    scores (count(qq), not count(*)) so null-quality docs (empty text)
    stay excluded exactly as F.avg excluded them. The quotient is
    F.try_divide (ADVICE r10-low): a group whose docs ALL have null
    quality has count(qq) = 0, and a plain `/` would abort the whole
    aggregation under ANSI mode — the same failure the text.py ratio
    helpers guard against; try_divide yields NULL for that group in
    both modes, matching what F.avg reported.
    """
    from wingfoil_spark.functions.text import quality_score

    tk = F.col(toks_col) if toks_col else None
    ntok = F.coalesce(
        token_count(F.col(text_col), toks=tk).cast("long"),
        F.lit(0).cast("long"),
    )
    q = quality_score(F.col(text_col), toks=tk)
    qq = F.round(q * F.lit(1e9)).cast("long")
    return df.groupBy(*group_cols).agg(
        F.count("*").alias("n_docs"),
        F.sum(ntok).alias("total_tokens"),
        F.round(F.avg(ntok), 2).alias("mean_tokens"),
        F.percentile_approx(ntok, [0.1, 0.5, 0.9]).alias("token_p10_p50_p90"),
        F.round(
            F.try_divide(F.sum(qq) / F.lit(1e9), F.count(qq)), 4
        ).alias("mean_quality"),
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_budget: int | None = None,
) -> DataFrame:
    """Greedy sequence packing: assign whole documents, in id order, to
    fixed-capacity training sequences of ``seq_len`` tokens — the standard
    "concatenate in order, start a new sequence when the next doc would
    overflow" packing used to build LLM pretraining batches without
    splitting documents. Docs longer than ``seq_len`` get a sequence of
    their own (callers wanting splits run :func:`~wingfoil_spark.functions.
    text.chunk_tokens` first — documented, not silently truncated).

    Emits ``(id, n_tokens, shard, seq_id, seq_fill)`` where ``seq_id``
    is globally unique (shard-qualified) and ``seq_fill`` is the packed
    token count of the doc's sequence AFTER placing it — ``seq_fill`` of a
    sequence's last doc is its final occupancy, so waste per sequence =
    ``seq_len - max(seq_fill)`` (capped sequences excepted).

    Scale shape: greedy packing is a sequential recurrence (each doc's
    placement depends on the running fill), which would be one task
    corpus-wide. The distributed form bounds the sequential scope with
    :func:`token_budget_shards` (two-phase prefix sum, ~``shard_budget``
    tokens per shard — default 1024 × seq_len) and packs WITHIN each
    shard via one Arrow batch per shard: a numpy-backed greedy walk over
    at most ~shard_budget/seq_len·(seq_len/min_doc) rows. Packing quality
    is unchanged except at the ≤1-sequence shard seam (a shard boundary
    may close a partially-filled sequence early — bounded waste, exactly
    like the per-file packing every real pipeline does); determinism is
    exact: same corpus, same ids → same sequences, independent of
    partitioning.
    """
    import pandas as pd

    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    budget = shard_budget or seq_len * 1024
    sharded = token_budget_shards(
        df, budget, text_col=text_col, id_col=id_col
    ).select(id_col, "n_tokens", "shard")

    # the id field keeps the INPUT's type — string/UUID ids must not fail
    # on a hardcoded long (same coercion contract as _components_packed)
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, n_tokens long, shard long, "
        "seq_id string, seq_fill long"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        shard = int(pdf["shard"].iloc[0])
        seq_idx, fill = 0, 0
        seq_ids, fills = [], []
        for n in pdf["n_tokens"].to_numpy():
            n = int(n)
            if fill > 0 and fill + n > seq_len:
                seq_idx += 1
                fill = 0
            fill += n
            seq_ids.append(f"{shard}:{seq_idx}")
            fills.append(fill)
        pdf["seq_id"] = seq_ids
        pdf["seq_fill"] = fills
        return pdf[[id_col, "n_tokens", "shard", "seq_id", "seq_fill"]]

    return sharded.groupBy("shard").applyInPandas(pack, schema=out_schema)


def packing_stats(packed: DataFrame, seq_len: int) -> DataFrame:
    """Packing-efficiency report over :func:`pack_sequences` output: one
    row per shard with sequence count, mean occupancy, and waste ratio
    (1 - packed_tokens / (n_sequences × seq_len)). One aggregation."""
    per_seq = packed.groupBy("shard", "seq_id").agg(
        F.max("seq_fill").alias("occ"), F.count(F.lit(1)).alias("n_docs")
    )
    return per_seq.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_sequences"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("occ").alias("packed_tokens"),
        F.round(F.avg("occ"), 2).alias("mean_occupancy"),
        F.round(
            1.0 - F.sum("occ") / (F.count(F.lit(1)) * F.lit(float(seq_len))), 4
        ).alias("waste_ratio"),
    )
