"""N-gram language-model quality filtering — the CCNet perplexity recipe
(Wenzek et al. 2020: score every document with an LM, bucket the corpus
into head/middle/tail by per-language perplexity quantiles) re-expressed
Spark-first with a corpus-fit bigram model instead of an external KenLM
binary (no model files in this environment; the pipeline shape — fit
table, score join, quantile bucketing — is identical, and a real KenLM
would slot in as a scoring UDF over the same frames).

Two smoothing families over ONE count fit (:func:`fit_bigram_counts`):

- add-k: ``p(w2 | w1) = (c(w1 w2) + k) / (c(w1) + k·V)`` over the
  reference vocabulary (V distinct tokens); an unseen history falls back
  to the uniform ``1/V``;
- interpolated Kneser-Ney (:func:`fit_kn_lm`).

Every bigram position has a finite log-prob, so scoring is total. All
math is deterministic double-precision log-space — an exact ANSI-SQL twin
exists (same joins, same ln()).

One scorer (:func:`_score`) serves :func:`lm_perplexity`,
:func:`kn_perplexity` and :func:`dual_perplexity` on a batch or a
streaming docs frame: a row-local bigram explode, left joins against the
count frames the requested formulas read, one log-prob expression per
formula, then a per-doc stage chosen by ``docs.isStreaming``.

100 TB shape: the fit is ONE shuffle per count table (bigram groupBy
with map-side partial aggregation, unigram groupBy), vocabulary-sized
and checkpointed; scoring is a plain shuffle join per count table that
AQE broadcast-decides when the model is small. No driver-side model, no
per-row Python on a batch frame.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F, types as T

from wingfoil_spark.functions.text import tokens
from wingfoil_spark.session import materialize, overlap

#: the bigram positions ``struct(w1, w2)`` of the internal token array
#: ``__t`` ([] below 2 tokens) — the one explode the count fit and the
#: scorer both build from
_BIGRAMS_SQL = (
    "if(size(__t) < 2, array(), transform(sequence(1, size(__t) - 1), "
    "i -> struct(__t[i-1] AS w1, __t[i] AS w2)))"
)


def _bigrams(toks: DataFrame, *keep: str) -> DataFrame:
    """``(*keep, w1, w2)``: one row per bigram position of each ``__t``
    token array — row-local."""
    return toks.select(
        *keep, F.explode(F.expr(_BIGRAMS_SQL)).alias("bg")
    ).select(*keep, "bg.w1", "bg.w2")


def _check(k: float | None = None, discount: float | None = None) -> None:
    if k is not None and k <= 0:
        raise ValueError(f"smoothing k must be > 0, got {k}")
    if discount is not None and not (0.0 < discount < 1.0):
        raise ValueError(f"discount must be in (0, 1), got {discount}")


def fit_bigram_counts(
    ref_docs: DataFrame,
    text_col: str = "text",
) -> dict:
    """The COUNT statistics both smoothing families derive from — the
    only reference-corpus fit; :func:`fit_bigram_lm` and
    :func:`fit_kn_lm` add their smoothing parameter to it.

    Returns ``uni`` (w1, c1), ``big`` (w1, w2, c12), ``n1p_fwd``
    (w1, n1p), ``n1p_bwd`` (w2, n1b) — all vocabulary-sized, ``uni`` and
    ``big`` eagerly checkpointed so the ref-corpus explode runs ONCE and
    a streaming scorer joins pinned frames — plus the scalars ``v``
    (vocab size) and ``b_types`` (distinct bigram types).

    An empty vocabulary raises ``ValueError`` at fit time: the model is
    undefined (log(1/0) would abort the whole scoring job under ANSI mode
    with DIVIDE_BY_ZERO).
    """
    toks = ref_docs.select(tokens(F.col(text_col)).alias("__t"))

    # r14 OPT (guide §2.6): the unigram and bigram count fits are
    # independent jobs over the same lazy token frame; submitting them
    # from two driver threads lets the second fit back-fill the cores
    # the first one's tail leaves idle (they were strictly sequential
    # before: ckpt(uni) → ckpt(big) → count(uni) → count(big)). The
    # per-frame work is unchanged, so the fitted counts are
    # bit-identical.
    def _fit_uni():
        u = materialize(
            toks.select(F.explode("__t").alias("w1"))
            .groupBy("w1")
            .agg(F.count(F.lit(1)).alias("c1"))
        )
        return u, u.count()

    def _fit_big():
        b = materialize(
            _bigrams(toks)
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("c12"))
        )
        return b, b.count()

    (uni, v), (big, b_types) = overlap(_fit_uni, _fit_big)
    if v == 0:
        raise ValueError(
            "fit_bigram_counts: reference corpus has empty vocabulary "
            "(no tokens after tokenization)"
        )
    n1p_fwd = big.groupBy("w1").agg(F.count(F.lit(1)).alias("n1p"))
    n1p_bwd = big.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    return {
        "uni": uni,
        "big": big,
        "n1p_fwd": n1p_fwd,
        "n1p_bwd": n1p_bwd,
        "v": v,
        "b_types": b_types,
    }


def fit_bigram_lm(
    ref_docs: DataFrame,
    text_col: str = "text",
    k: float = 0.1,
) -> dict:
    """Fit the add-k bigram model on a reference corpus: the
    :func:`fit_bigram_counts` dict plus ``k``. Score with
    :func:`lm_perplexity`."""
    _check(k=k)
    return {**fit_bigram_counts(ref_docs, text_col), "k": k}


def fit_kn_lm(
    ref_docs: DataFrame,
    text_col: str = "text",
    discount: float = 0.75,
) -> dict:
    """Fit an INTERPOLATED KNESER-NEY bigram model — the smoothing family
    production n-gram filters (KenLM, the actual CCNet scorer) use, where
    add-k is the teaching tier (:func:`fit_bigram_lm`): the
    :func:`fit_bigram_counts` dict plus ``discount``. Score with
    :func:`kn_perplexity`.

    ``p(w2|w1) = max(c12 − D, 0)/c1 + λ(w1)·p_cont(w2)`` with
    ``λ(w1) = D·N1+(w1,·)/c1`` (the discount mass redistributed) and the
    continuation probability ``p_cont(w2) ∝ N1+(·,w2)`` — "how many
    contexts has w2 completed", the insight that makes KN rank
    "Francisco" low despite high raw frequency. For totality over
    unseen words, the continuation distribution is add-1 smoothed over
    the (V+1)-way vocab-plus-OOV space (documented deviation — exact KN
    leaves unseen-continuation mass undefined):
    ``p*_cont(w2) = (N1+(·,w2) + 1)/(B + V + 1)`` with B = distinct
    bigram types. An unseen HISTORY backs off to ``p*_cont(w2)`` alone —
    as does a history with NO observed continuations (a word seen only
    document-final: λ = 0 leaves zero mass otherwise). All plain
    counts/closed-form doubles — reproducible in ANSI SQL (the
    lm_packing part='kn' oracle).
    """
    _check(discount=discount)
    return {**fit_bigram_counts(ref_docs, text_col), "discount": discount}


def _score(
    docs: DataFrame,
    counts: dict,
    text_col: str,
    id_col: str,
    k: float | None = None,
    discount: float | None = None,
) -> DataFrame:
    """THE LM scorer: per-doc mean bigram log-prob under add-k (when
    ``k`` is given) and/or Kneser-Ney (when ``discount`` is given) over a
    :func:`fit_bigram_counts` fit.

    One bigram explode, left joins against only the count frames the
    requested formulas read (``big`` and ``uni``; plus ``n1p_fwd`` and
    ``n1p_bwd`` for Kneser-Ney), one log-prob expression per formula.
    Output: ``(id, n_bigrams, logprob_<f>, perplexity_<f>…)`` with
    ``f`` in (addk, kn), requested formulas only.

    The per-doc stage follows ``docs.isStreaming``:

    - batch: ``groupBy`` + avg, left-joined back onto the docs, so a doc
      under 2 tokens gets ``n_bigrams`` 0 and NULL scores;
    - stream: per-bigram log-probs are quantized JVM-side to 1e-9
      integers (round(lp·1e9) as long), so each doc's Σ is exact integer
      arithmetic — identical under ANY summation order, Arrow batching,
      arrival order or engine. ``repartition(id)`` + ``mapInPandas``
      merges the running ``(n, Σ)`` across Arrow batches (a doc's rows
      colocate in one partition but may span batches) and emits at
      iterator exhaustion; a doc lives in exactly one micro-batch, so
      there is no standing state. The reported mean Σ/1e9/n differs
      from the unquantized one by < 5e-10. Only docs with ≥ 1 bigram
      are emitted (token-poor docs carry no LM evidence).
    """
    v = counts["v"]
    pos = _bigrams(
        docs.where(F.col(text_col).isNotNull()).select(
            F.col(id_col), tokens(F.col(text_col)).alias("__t")
        ),
        id_col,
    )
    j = pos.join(counts["big"], ["w1", "w2"], "left").join(
        counts["uni"], ["w1"], "left"
    )
    lps = {}
    if k is not None:
        denom = F.col("c1") + F.lit(k) * F.lit(float(v))
        lps["addk"] = (
            F.when(
                F.col("c12").isNotNull(),
                F.log((F.col("c12") + F.lit(k)) / denom),
            )
            .when(F.col("c1").isNotNull(), F.log(F.lit(k) / denom))
            .otherwise(F.log(F.lit(1.0) / F.lit(float(v))))
        )
    if discount is not None:
        denom_c = float(counts["b_types"] + v + 1)
        j = j.join(counts["n1p_fwd"], ["w1"], "left").join(
            counts["n1p_bwd"], ["w2"], "left"
        )
        lam = (
            F.lit(discount)
            * F.coalesce(F.col("n1p"), F.lit(0)).cast("double")
            / F.col("c1").cast("double")
        )
        pc = F.coalesce(
            (F.col("n1b") + 1.0) / F.lit(denom_c), F.lit(1.0) / F.lit(denom_c)
        )
        # a history with NO observed continuations (a word that only
        # ever ends documents: c1 > 0 but N1+(w1,·) = 0, so λ = 0) has
        # zero discounted mass AND zero redistribution — p would be 0
        # and log undefined (hypothesis-found). No continuation evidence
        # → back off to the continuation prior, like an unseen history.
        p_kn = F.when(F.col("c1").isNull() | (lam == 0.0), pc).otherwise(
            F.greatest(
                F.coalesce(F.col("c12"), F.lit(0)).cast("double")
                - F.lit(discount),
                F.lit(0.0),
            )
            / F.col("c1").cast("double")
            + lam * pc
        )
        lps["kn"] = F.log(p_kn)
    names = list(lps)

    if docs.isStreaming:
        scored = j.select(
            id_col,
            *[
                F.round(e * F.lit(1e9)).cast("long").alias(f"__lp_{f}")
                for f, e in lps.items()
            ],
        )
        return _running_per_doc(
            scored, names, id_col, docs.schema[id_col].dataType
        )
    per_doc = (
        j.select(id_col, *[e.alias(f"__lp_{f}") for f, e in lps.items()])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            *[F.avg(f"__lp_{f}").alias(f"logprob_{f}") for f in names],
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            *[
                c
                for f in names
                for c in (
                    F.col(f"logprob_{f}"),
                    F.exp(-F.col(f"logprob_{f}")).alias(f"perplexity_{f}"),
                )
            ],
        )
    )


def _running_per_doc(
    scored: DataFrame, names: list[str], id_col: str, id_type: T.DataType
) -> DataFrame:
    """The streamed per-doc stage of :func:`_score`: running merge of
    ``(n, Σ __lp_<f>)`` over 1e-9-quantized log-probs."""
    import pandas as pd

    cols = [f"__lp_{f}" for f in names]
    schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("n_bigrams", T.LongType()),
        ]
        + [
            T.StructField(c, T.DoubleType())
            for f in names
            for c in (f"logprob_{f}", f"perplexity_{f}")
        ]
    )

    def per_doc(batches):
        acc: dict = {}  # id -> [n, Σ quantized lp per formula]
        for pdf in batches:
            if not len(pdf):
                continue
            g = pdf.groupby(id_col, sort=False)
            sums = g[cols].sum()
            sums.insert(0, "__n", g.size())
            for i, row in zip(sums.index, sums.to_numpy().tolist()):
                st = acc.setdefault(i, [0] * len(row))
                for c, x in enumerate(row):
                    st[c] += x
        if acc:
            rows = []
            for i, (n, *sums) in acc.items():
                row = [i, n]
                for s in sums:
                    row += [s / 1e9 / n, math.exp(-(s / 1e9 / n))]
                rows.append(row)
            yield pd.DataFrame(rows, columns=schema.fieldNames())

    return scored.repartition(id_col).mapInPandas(per_doc, schema)


def lm_perplexity(
    docs: DataFrame,
    lm: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score each document under the fitted add-k model
    (:func:`fit_bigram_lm`): mean bigram log-prob and perplexity
    ``exp(-mean)``. On a batch frame, docs with fewer than 2 tokens carry
    no bigram evidence and are emitted with NULL score (the caller
    decides — CCNet drops them); a streaming frame emits docs with ≥ 1
    bigram, scored per micro-batch (see :func:`_score`).

    Returns ``(id_col, n_bigrams, logprob_per_token, perplexity)``.
    """
    return _score(docs, lm, text_col, id_col, k=lm["k"]).select(
        id_col,
        "n_bigrams",
        F.col("logprob_addk").alias("logprob_per_token"),
        F.col("perplexity_addk").alias("perplexity"),
    )


def kn_perplexity(
    docs: DataFrame,
    lm: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents under the fitted Kneser-Ney model
    (:func:`fit_kn_lm`): mean bigram log-prob + perplexity, the
    :func:`lm_perplexity` output contract.

    Per position: observed history → ``max(c12−D,0)/c1 + λ(w1)·p*_cont``;
    unseen history → ``p*_cont(w2)`` (the OOV continuation prior when w2
    is also unseen as a continuation). Every probability is > 0 by
    construction, so the log is total — no ANSI aborts on any input."""
    return _score(
        docs, lm, text_col, id_col, discount=lm["discount"]
    ).select(
        id_col,
        "n_bigrams",
        F.col("logprob_kn").alias("logprob_per_token"),
        F.col("perplexity_kn").alias("perplexity"),
    )


def dual_perplexity(
    docs: DataFrame,
    counts: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.1,
    discount: float = 0.75,
) -> DataFrame:
    """Score every document under add-k AND interpolated Kneser-Ney in
    ONE pipeline over a :func:`fit_bigram_counts` fit: one bigram
    explode, one join chain, one per-doc stage — where scoring the two
    models separately explodes and joins the corpus twice for the same
    positions. The per-position expressions are the single-model
    scorers' own (one :func:`_score`).

    Output: ``(id, n_bigrams, logprob_addk, perplexity_addk,
    logprob_kn, perplexity_kn)`` with the :func:`lm_perplexity` NULL
    contract on a batch frame.
    """
    _check(k=k, discount=discount)
    return _score(docs, counts, text_col, id_col, k=k, discount=discount)


def ppl_buckets(
    scored: DataFrame,
    group_col: str | None = None,
    id_col: str = "doc_id",
    cuts: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
) -> DataFrame:
    """CCNet's head/middle/tail split: bucket docs by perplexity quantiles,
    per ``group_col`` (CCNet: per language) or globally. Lower perplexity
    = "head" (most LM-like). NULL-scored docs (< 2 tokens) get NULL bucket.

    Quantiles via ``percentile_approx`` (one aggregate over the group, a
    few-KB sketch per group — no sort of the corpus, scale-safe). Returns
    the input plus a ``ppl_bucket`` column.
    """
    lo, hi = cuts
    if not (0.0 < lo < hi < 1.0):
        raise ValueError(f"cuts must satisfy 0 < lo < hi < 1, got {cuts}")
    gcols = [group_col] if group_col else []
    q = scored.where(F.col("perplexity").isNotNull()).groupBy(*gcols).agg(
        F.percentile_approx("perplexity", lo).alias("__q_lo"),
        F.percentile_approx("perplexity", hi).alias("__q_hi"),
    )
    joined = (
        scored.join(F.broadcast(q), gcols, "left")
        if gcols
        else scored.crossJoin(F.broadcast(q))
    )
    return joined.select(
        *scored.columns,
        F.when(F.col("perplexity").isNull(), F.lit(None).cast("string"))
        .when(F.col("perplexity") <= F.col("__q_lo"), F.lit("head"))
        .when(F.col("perplexity") <= F.col("__q_hi"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )
