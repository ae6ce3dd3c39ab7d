"""N-gram language-model quality filtering — the CCNet perplexity recipe
(Wenzek et al. 2020: score every document with an LM, bucket the corpus
into head/middle/tail by per-language perplexity quantiles) re-expressed
Spark-first with a corpus-fit add-k bigram model instead of an external
KenLM binary (no model files in this environment; the pipeline shape —
fit table, score join, quantile bucketing — is identical, and a real
KenLM would slot in as a scoring UDF over the same frames).

Model: ``p(w2 | w1) = (c(w1 w2) + k) / (c(w1) + k·V)`` with add-k
smoothing over the reference corpus vocabulary (V distinct tokens).
Unseen-history and unseen-word positions fall back to the same formula
with zero counts, so every bigram position has a finite log-prob and
scoring is total. All math is deterministic double-precision log-space —
an exact ANSI-SQL twin exists (same joins, same ln()).

100 TB shape: the fit is ONE shuffle (bigram groupBy with map-side
partial aggregation) plus a unigram groupBy folded into the bigram table
at fit time; scoring is a row-local bigram explode joined against the fit
table on (w1, w2) — a plain shuffle join that AQE broadcast-decides when
the model is small, plus one (w1)-keyed join for unseen-bigram backoff.
No driver-side model, no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from wingfoil_spark.functions.text import tokens
from wingfoil_spark.session import overlap


def _bigram_pos(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, w1, w2) bigram positions of each doc — row-local explode,
    shared by both batch scorers and the streaming scorer so the gram
    stream is structurally identical everywhere."""
    return docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__t")
    ).select(
        F.col(id_col),
        F.explode(
            F.expr(
                "if(size(__t) < 2, array(), transform(sequence(1, size(__t) - 1), "
                "i -> struct(__t[i-1] AS w1, __t[i] AS w2)))"
            )
        ).alias("bg"),
    ).select(id_col, "bg.w1", "bg.w2")


def fit_bigram_lm(
    ref_docs: DataFrame,
    text_col: str = "text",
    k: float = 0.1,
) -> dict[str, DataFrame]:
    """Fit the add-k bigram model on a reference corpus.

    Returns three frames (the "model"):

    - ``bigrams``:  (w1, w2, logp) for every OBSERVED bigram;
    - ``histories``: (w1, logp_unseen) — the smoothed log-prob of any
      UNOBSERVED continuation of an observed history w1;
    - ``consts``: a 1-row frame (v, logp_oov) — vocabulary size and the
      log-prob used when the history itself is unseen
      (= log(k/(0 + k·V)) = -log(V), the uniform fallback).

    Deterministic given (ref corpus, k); every value reproducible in SQL.
    """
    if k <= 0:
        raise ValueError(f"smoothing k must be > 0, got {k}")
    toks = ref_docs.select(tokens(F.col(text_col)).alias("__t"))
    uni = (
        toks.select(F.explode("__t").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    big = (
        toks.select(
            F.explode(
                F.expr(
                    "if(size(__t) < 2, array(), transform(sequence(1, size(__t) - 1), "
                    "i -> struct(__t[i-1] AS w1, __t[i] AS w2)))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    # V is one scalar; computing it inline would put a scalar subquery in
    # every row's expression — take it once (an aggregate collect of ONE
    # row, not a data collect)
    v = uni.count()
    if v == 0:
        # An empty-vocabulary model is undefined (log(1/0) would abort the
        # whole scoring job under ANSI mode with DIVIDE_BY_ZERO). Fail
        # loudly at wiring time — the module convention for degenerate
        # inputs.
        raise ValueError(
            "fit_bigram_lm: reference corpus has empty vocabulary "
            "(no tokens after tokenization)"
        )
    denom = F.col("c1") + F.lit(k) * F.lit(float(v))
    bigrams = (
        big.join(uni, "w1")
        .select(
            "w1",
            "w2",
            F.log((F.col("c12") + F.lit(k)) / denom).alias("logp"),
        )
    )
    histories = uni.select(
        "w1", F.log(F.lit(k) / denom).alias("logp_unseen")
    )
    consts = ref_docs.sparkSession.range(1).select(
        F.lit(v).alias("v"),
        F.log(F.lit(1.0) / F.lit(float(v))).alias("logp_oov"),
    )
    return {"bigrams": bigrams, "histories": histories, "consts": consts}


def lm_perplexity(
    docs: DataFrame,
    lm: dict[str, DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score each document under the fitted model: mean bigram log-prob
    and perplexity ``exp(-mean)``. Docs with fewer than 2 tokens carry no
    bigram evidence and are emitted with NULL score (the caller decides —
    CCNet drops them).

    Returns ``(id_col, n_bigrams, logprob_per_token, perplexity)``.
    """
    pos = _bigram_pos(docs, text_col, id_col)
    scored = (
        pos.join(lm["bigrams"], ["w1", "w2"], "left")
        .join(lm["histories"], ["w1"], "left")
        .crossJoin(F.broadcast(lm["consts"]))
        .select(
            id_col,
            F.coalesce(
                F.col("logp"), F.col("logp_unseen"), F.col("logp_oov")
            ).alias("__lp"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("__lp").alias("logprob_per_token"),
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "logprob_per_token",
            F.exp(-F.col("logprob_per_token")).alias("perplexity"),
        )
    )


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


def fit_kn_lm(
    ref_docs: DataFrame,
    text_col: str = "text",
    discount: float = 0.75,
) -> dict[str, DataFrame]:
    """Fit an INTERPOLATED KNESER-NEY bigram model — the smoothing family
    production n-gram filters (KenLM, the actual CCNet scorer) use, where
    add-k is the teaching tier (:func:`fit_bigram_lm`).

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
    document-final: λ = 0 leaves zero mass otherwise).

    Returns frames: ``bigrams`` (w1, w2, c12), ``histories``
    (w1, c1, lam), ``cont`` (w2, pc), ``consts`` (v, b_types, pc_oov,
    discount). All plain counts/closed-form doubles — deterministic and
    reproducible in ANSI SQL (the lm_packing part='kn' oracle).

    100 TB shape: fit is the same ONE bigram shuffle as add-k (plus two
    bounded groupBys over the bigram-type table, itself vocabulary- not
    corpus-sized); scoring is three joins (on (w1,w2), w1, w2) that AQE
    broadcast-decides when the model is small. No driver-side model, no
    Python stage.
    """
    if not (0.0 < discount < 1.0):
        raise ValueError(f"discount must be in (0, 1), got {discount}")
    toks = ref_docs.select(tokens(F.col(text_col)).alias("__t"))
    uni = (
        toks.select(F.explode("__t").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    big = (
        toks.select(
            F.explode(
                F.expr(
                    "if(size(__t) < 2, array(), transform(sequence(1, size(__t) - 1), "
                    "i -> struct(__t[i-1] AS w1, __t[i] AS w2)))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    v = uni.count()
    if v == 0:
        raise ValueError(
            "fit_kn_lm: reference corpus has empty vocabulary "
            "(no tokens after tokenization)"
        )
    # bigram-TYPE statistics (vocabulary-sized, not corpus-sized)
    b_types = big.count()
    n1p_fwd = big.groupBy("w1").agg(F.count(F.lit(1)).alias("n1p"))
    n1p_bwd = big.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    denom_c = float(b_types + v + 1)
    histories = uni.join(n1p_fwd, "w1", "left").select(
        "w1",
        "c1",
        (
            F.lit(discount)
            * F.coalesce(F.col("n1p"), F.lit(0)).cast("double")
            / F.col("c1").cast("double")
        ).alias("lam"),
    )
    cont = n1p_bwd.select(
        "w2",
        ((F.col("n1b") + 1.0) / F.lit(denom_c)).alias("pc"),
    )
    consts = ref_docs.sparkSession.range(1).select(
        F.lit(v).alias("v"),
        F.lit(b_types).alias("b_types"),
        (F.lit(1.0) / F.lit(denom_c)).alias("pc_oov"),
        F.lit(discount).alias("discount"),
    )
    return {
        "bigrams": big,
        "histories": histories,
        "cont": cont,
        "consts": consts,
    }


def kn_perplexity(
    docs: DataFrame,
    lm: dict[str, DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents under the fitted Kneser-Ney model
    (:func:`fit_kn_lm`): mean bigram log-prob + perplexity, the
    lm_perplexity output contract (NULL for < 2-token docs).

    Per position: observed history → ``max(c12−D,0)/c1 + λ(w1)·p*_cont``;
    unseen history → ``p*_cont(w2)`` (pc_oov when w2 is also unseen as a
    continuation). Every probability is > 0 by construction, so the log
    is total — no ANSI aborts on any input."""
    pos = _bigram_pos(docs, text_col, id_col)
    pc = F.coalesce(F.col("pc"), F.col("pc_oov"))
    # a history with NO observed continuations (a word that only ever
    # ends documents: c1 > 0 but N1+(w1,·) = 0, so λ = 0) has zero
    # discounted mass AND zero redistribution — p would be 0 and log
    # undefined (hypothesis-found). No continuation evidence → back off
    # to the continuation prior, exactly like an unseen history.
    p = F.when(
        F.col("c1").isNull() | (F.col("lam") == 0.0), pc
    ).otherwise(
        F.greatest(
            F.coalesce(F.col("c12"), F.lit(0)).cast("double") - F.col("discount"),
            F.lit(0.0),
        )
        / F.col("c1").cast("double")
        + F.col("lam") * pc
    )
    scored = (
        pos.join(lm["bigrams"], ["w1", "w2"], "left")
        .join(lm["histories"], ["w1"], "left")
        .join(lm["cont"], ["w2"], "left")
        .crossJoin(F.broadcast(lm["consts"]))
        .select(id_col, F.log(p).alias("__lp"))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("__lp").alias("logprob_per_token"),
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "logprob_per_token",
            F.exp(-F.col("logprob_per_token")).alias("perplexity"),
        )
    )


def fit_bigram_counts(
    ref_docs: DataFrame,
    text_col: str = "text",
) -> dict:
    """The COUNT statistics both smoothing families derive from — fit
    once, score under add-k AND Kneser-Ney without re-aggregating the
    reference corpus (:func:`fit_bigram_lm` and :func:`fit_kn_lm` each
    run their own unigram/bigram groupBys plus count() actions; a
    pipeline scoring both smoothings pays that twice for identical
    counts).

    Returns ``uni`` (w1, c1), ``big`` (w1, w2, c12), ``n1p_fwd``
    (w1, n1p), ``n1p_bwd`` (w2, n1b) — all vocabulary-sized, eagerly
    checkpointed so the ref-corpus explode runs ONCE — plus the scalars
    ``v`` (vocab size) and ``b_types`` (distinct bigram types).
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
        u = (
            toks.select(F.explode("__t").alias("w1"))
            .groupBy("w1")
            .agg(F.count(F.lit(1)).alias("c1"))
            .localCheckpoint(eager=True)
        )
        return u, u.count()

    def _fit_big():
        b = (
            toks.select(
                F.explode(
                    F.expr(
                        "if(size(__t) < 2, array(), transform(sequence(1, size(__t) - 1), "
                        "i -> struct(__t[i-1] AS w1, __t[i] AS w2)))"
                    )
                ).alias("bg")
            )
            .select("bg.w1", "bg.w2")
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("c12"))
            .localCheckpoint(eager=True)
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
    explode, one join chain (on (w1,w2), w1, w1→n1p, w2), one per-doc
    aggregation — where scoring the two models separately explodes and
    joins the corpus twice for the same positions.

    Per-position formulas are the EXACT expressions of
    :func:`lm_perplexity` (add-k: the logp/logp_unseen/logp_oov cases
    inlined — same doubles, the frame-side ln just moves to the
    position) and :func:`kn_perplexity` (verbatim, including the
    λ=0-history backoff) — differentially pinned exact-equal by
    tests/test_lm_packing.py.

    Output: ``(id, n_bigrams, logprob_addk, perplexity_addk,
    logprob_kn, perplexity_kn)`` with the lm_perplexity NULL contract
    (< 2-token docs: n_bigrams 0, NULL scores).
    """
    if k <= 0:
        raise ValueError(f"smoothing k must be > 0, got {k}")
    if not (0.0 < discount < 1.0):
        raise ValueError(f"discount must be in (0, 1), got {discount}")
    v = counts["v"]
    b_types = counts["b_types"]
    denom_c = float(b_types + v + 1)
    pos = _bigram_pos(docs, text_col, id_col)
    j = (
        pos.join(counts["big"], ["w1", "w2"], "left")
        .join(counts["uni"], ["w1"], "left")
        .join(counts["n1p_fwd"], ["w1"], "left")
        .join(counts["n1p_bwd"], ["w2"], "left")
    )
    denom = F.col("c1") + F.lit(k) * F.lit(float(v))
    lp_addk = (
        F.when(F.col("c12").isNotNull(), F.log((F.col("c12") + F.lit(k)) / denom))
        .when(F.col("c1").isNotNull(), F.log(F.lit(k) / denom))
        .otherwise(F.log(F.lit(1.0) / F.lit(float(v))))
    )
    lam = (
        F.lit(discount)
        * F.coalesce(F.col("n1p"), F.lit(0)).cast("double")
        / F.col("c1").cast("double")
    )
    pc = F.coalesce(
        (F.col("n1b") + 1.0) / F.lit(denom_c), F.lit(1.0) / F.lit(denom_c)
    )
    p_kn = F.when(F.col("c1").isNull() | (lam == 0.0), pc).otherwise(
        F.greatest(
            F.coalesce(F.col("c12"), F.lit(0)).cast("double") - F.lit(discount),
            F.lit(0.0),
        )
        / F.col("c1").cast("double")
        + lam * pc
    )
    per_doc = j.select(
        id_col, lp_addk.alias("__lpa"), F.log(p_kn).alias("__lpk")
    ).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("__lpa").alias("logprob_addk"),
        F.avg("__lpk").alias("logprob_kn"),
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "logprob_addk",
            F.exp(-F.col("logprob_addk")).alias("perplexity_addk"),
            "logprob_kn",
            F.exp(-F.col("logprob_kn")).alias("perplexity_kn"),
        )
    )
