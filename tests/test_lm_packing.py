"""LM perplexity filtering (functions/lm.py — the CCNet recipe with a
corpus-fit add-k bigram model) and greedy sequence packing
(functions/curation.py pack_sequences). Differential-tested against
brute-force Python references; contracts pinned on hand-checked cases.
"""

import math
import os
from collections import Counter

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from wingfoil_spark.functions import curation as cu, lm

#: hypothesis examples per LM differential: a bounded budget in the
#: default lane, the full one with WINGFOIL_FULL_SUITE=1
DIFF_EXAMPLES = 10 if os.environ.get("WINGFOIL_FULL_SUITE", "") == "1" else 5


# ---------------------------------------------------------- python reference


def ref_lm_scores(ref_texts, texts, k):
    toks = [t.lower().split() for t in ref_texts]
    uni: Counter = Counter(w for tk in toks for w in tk)
    big: Counter = Counter(
        (tk[i], tk[i + 1]) for tk in toks for i in range(len(tk) - 1)
    )
    v = len(uni)
    out = {}
    for i, t in texts.items():
        tk = t.lower().split()
        if len(tk) < 2:
            out[i] = (0, None, None)
            continue
        lps = []
        for a, b in zip(tk, tk[1:]):
            if a in uni:
                lps.append(
                    math.log((big.get((a, b), 0) + k) / (uni[a] + k * v))
                )
            else:
                lps.append(math.log(1.0 / v))
        mean = sum(lps) / len(lps)
        out[i] = (len(lps), mean, math.exp(-mean))
    return out


def _frames(spark, ref_texts, texts):
    ref = spark.createDataFrame([(t,) for t in ref_texts], "text string")
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    return ref, docs


def spark_lm_scores(spark, ref_texts, texts, k):
    ref, docs = _frames(spark, ref_texts, texts)
    model = lm.fit_bigram_lm(ref, k=k)
    rows = lm.lm_perplexity(docs, model).collect()
    return {
        r.doc_id: (r.n_bigrams, r.logprob_per_token, r.perplexity) for r in rows
    }


def spark_dual_scores(spark, ref_texts, texts, k, D):
    """{id: (addk triple, kn triple)} from dual_perplexity."""
    ref, docs = _frames(spark, ref_texts, texts)
    rows = lm.dual_perplexity(
        docs, lm.fit_bigram_counts(ref), k=k, discount=D
    ).collect()
    return {
        r.doc_id: (
            (r.n_bigrams, r.logprob_addk, r.perplexity_addk),
            (r.n_bigrams, r.logprob_kn, r.perplexity_kn),
        )
        for r in rows
    }


def assert_scores_match(got, want, lp_tol):
    """Spark {id: (n, logprob, ppl)} against the Python model's."""
    assert set(got) == set(want)
    for i in got:
        gn, glp, gp = got[i]
        wn, wlp, wp = want[i]
        assert gn == wn
        if wlp is None:
            assert glp is None and gp is None
        else:
            assert glp == pytest.approx(wlp, **lp_tol)
            assert gp == pytest.approx(wp, rel=1e-9)


# ------------------------------------------------------------------------ lm


def test_lm_hand_checked(spark):
    # ref corpus: "a b a b a c" → uni: a3 b2 c1, V=3; bigrams: ab2 ba2 ac1
    got = spark_lm_scores(spark, ["a b a b a c"], {1: "a b"}, k=1.0)
    # p(b|a) = (2+1)/(3+3) = 0.5
    n, lp, ppl = got[1]
    assert n == 1
    assert lp == pytest.approx(math.log(0.5), rel=1e-12)
    assert ppl == pytest.approx(2.0, rel=1e-12)


def test_lm_oov_fallbacks(spark):
    ref = ["a b a b"]
    # seen-history/unseen-word: p(z|a) = k/(c(a)+kV); unseen history:
    # p(*|z) = 1/V (V=2: {a, b})
    got = spark_lm_scores(spark, ref, {1: "a z", 2: "z q"}, k=0.5)
    assert got[1][1] == pytest.approx(math.log(0.5 / (2 + 0.5 * 2)), rel=1e-12)
    assert got[2][1] == pytest.approx(math.log(1 / 2), rel=1e-12)


def test_lm_short_docs_null(spark):
    got = spark_lm_scores(spark, ["a b c"], {1: "a", 2: ""}, k=0.1)
    assert got[1] == (0, None, None) and got[2] == (0, None, None)


def test_lm_k_guard(spark):
    ref = spark.createDataFrame([("a b",)], "text string")
    with pytest.raises(ValueError):
        lm.fit_bigram_lm(ref, k=0.0)


def test_lm_empty_vocab_guard(spark):
    # the round-5 hypothesis counterexample, pinned: ref_texts=[''] has no
    # tokens, so V=0 and log(1/V) would ANSI-abort the scoring job.
    # fit_bigram_lm must raise at wiring time instead.
    for rows in [[("",)], [("   ",)], [("",), ("  ",)]]:
        ref = spark.createDataFrame(rows, "text string")
        with pytest.raises(ValueError, match="empty vocabulary"):
            lm.fit_bigram_lm(ref, k=0.1)


@settings(max_examples=DIFF_EXAMPLES, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcd"), min_size=0, max_size=15).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=0, max_size=12).map(" ".join),
        min_size=1,
        max_size=6,
    ),
)
def test_lm_differential(spark, ref_texts, score_texts):
    texts = dict(enumerate(score_texts))
    if not any(t.split() for t in ref_texts):
        # empty-vocabulary reference corpus: the model is undefined and
        # fit must fail loudly at wiring time (not abort the scoring job)
        with pytest.raises(ValueError, match="empty vocabulary"):
            spark_lm_scores(spark, ref_texts, texts, k=0.25)
        return
    want = ref_lm_scores(ref_texts, texts, k=0.25)
    tol = dict(rel=1e-9, abs=1e-12)
    assert_scores_match(spark_lm_scores(spark, ref_texts, texts, k=0.25), want, tol)
    dual = spark_dual_scores(spark, ref_texts, texts, k=0.25, D=0.75)
    assert_scores_match({i: a for i, (a, _) in dual.items()}, want, tol)


def test_ppl_buckets_ordering(spark):
    # natural-ish docs (drawn from ref distribution) must land in head,
    # gibberish in tail
    ref = ["the cat sat on the mat " * 3] * 4
    texts = {
        1: "the cat sat on the mat",          # pure ref phrasing → lowest ppl
        2: "the cat sat on zz qq",            # half-natural
        3: "mat the on cat zz qq ww",         # scrambled + OOV → highest ppl
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    model = lm.fit_bigram_lm(
        spark.createDataFrame([(t,) for t in ref], "text string"), k=0.1
    )
    scored = lm.lm_perplexity(docs, model)
    got = {r.doc_id: r.ppl_bucket for r in lm.ppl_buckets(scored).collect()}
    assert got == {1: "head", 2: "middle", 3: "tail"}


def test_ppl_buckets_null_and_guard(spark):
    scored = spark.createDataFrame(
        [(1, 5, -1.0, 2.7), (2, 0, None, None)],
        "doc_id long, n_bigrams long, logprob_per_token double, perplexity double",
    )
    got = {r.doc_id: r.ppl_bucket for r in lm.ppl_buckets(scored).collect()}
    assert got[2] is None
    with pytest.raises(ValueError):
        lm.ppl_buckets(scored, cuts=(0.8, 0.2))


# --------------------------------------------------------------- packing


def ref_pack(sizes: list[tuple[int, int]], seq_len: int):
    """(id, n_tokens) in id order → {id: (seq_idx, fill_after)} single-shard."""
    out, seq_idx, fill = {}, 0, 0
    for i, n in sorted(sizes):
        if fill > 0 and fill + n > seq_len:
            seq_idx += 1
            fill = 0
        fill += n
        out[i] = (seq_idx, fill)
    return out


def test_pack_hand_checked(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in [(1, 3), (2, 4), (3, 2), (4, 9), (5, 1)]],
        "doc_id long, text string",
    )
    rows = cu.pack_sequences(docs, seq_len=8, shard_budget=10**6).collect()
    got = {r.doc_id: (r.seq_id, r.seq_fill) for r in rows}
    # greedy: [3,4] fill 7 | [2] seq1 fill 2... wait 3+4=7, +2>8 → seq1
    assert got == {
        1: ("0:0", 3),
        2: ("0:0", 7),
        3: ("0:1", 2),
        4: ("0:2", 9),   # oversized doc: own sequence, over capacity
        5: ("0:3", 1),
    }


def test_pack_capacity_and_determinism(spark):
    import random

    rng = random.Random(7)
    sizes = [(i, rng.randint(1, 50)) for i in range(200)]
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in sizes], "doc_id long, text string"
    )
    a = cu.pack_sequences(docs, seq_len=64, shard_budget=10**6).collect()
    b = cu.pack_sequences(docs.repartition(13), seq_len=64, shard_budget=10**6).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # partition-invariant
    want = ref_pack(sizes, 64)
    got = {r.doc_id: (int(r.seq_id.split(":")[1]), r.seq_fill) for r in a}
    assert got == want
    # every sequence fits unless it holds a single oversized doc
    per_seq = {}
    for r in a:
        per_seq.setdefault(r.seq_id, []).append(r)
    for rows in per_seq.values():
        occ = max(r.seq_fill for r in rows)
        assert occ <= 64 or len(rows) == 1


def test_pack_sharding_bounds_sequential_scope(spark):
    # small shard budget → multiple shards, each packed independently;
    # waste only at shard seams
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 10)) for i in range(40)], "doc_id long, text string"
    )
    packed = cu.pack_sequences(docs, seq_len=30, shard_budget=100)
    stats = cu.packing_stats(packed, 30).collect()
    assert len(stats) == 4  # 400 tokens / 100-token shards
    for s in stats:
        assert s.packed_tokens == 100
        assert s.n_sequences >= 4  # 100 tokens / 30-seq → ≥4 sequences
    assert packed.count() == 40


def test_pack_guard(spark):
    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        cu.pack_sequences(docs, seq_len=0)


# ------------------------------------------------------------- kneser-ney


def ref_kn_scores(ref_texts, texts, D=0.75):
    toks = [t.lower().split() for t in ref_texts]
    uni: Counter = Counter(w for tk in toks for w in tk)
    big: Counter = Counter(
        (tk[i], tk[i + 1]) for tk in toks for i in range(len(tk) - 1)
    )
    v, b_types = len(uni), len(big)
    denom_c = b_types + v + 1
    n1p_fwd: Counter = Counter(a for (a, _b) in big)
    n1b: Counter = Counter(b for (_a, b) in big)
    out = {}
    for i, t in texts.items():
        tk = t.lower().split()
        if len(tk) < 2:
            out[i] = (0, None, None)
            continue
        lps = []
        for a, b in zip(tk, tk[1:]):
            pc = (n1b.get(b, 0) + 1.0) / denom_c
            if a in uni and n1p_fwd.get(a, 0) > 0:
                c1 = uni[a]
                lam = D * n1p_fwd[a] / c1
                p = max(big.get((a, b), 0) - D, 0.0) / c1 + lam * pc
            else:
                # unseen history OR a history with no observed
                # continuations (doc-final-only word): continuation prior
                p = pc
            lps.append(math.log(p))
        mean = sum(lps) / len(lps)
        out[i] = (len(lps), mean, math.exp(-mean))
    return out


def spark_kn_scores(spark, ref_texts, texts, D=0.75):
    ref, docs = _frames(spark, ref_texts, texts)
    model = lm.fit_kn_lm(ref, discount=D)
    rows = lm.kn_perplexity(docs, model).collect()
    return {
        r.doc_id: (r.n_bigrams, r.logprob_per_token, r.perplexity) for r in rows
    }


def test_kn_hand_checked(spark):
    # ref "a b a b a c": uni a3 b2 c1 (V=3); bigrams ab:2 ba:2 ac:1 (B=3)
    # n1p_fwd: a->2, b->1; n1b: b->1, a->1, c->1; denom_c = 3+3+1 = 7
    # p(b|a) = (2-.75)/3 + (.75*2/3)*((1+1)/7) = 1.25/3 + .5*2/7
    want = 1.25 / 3 + 0.5 * (2 / 7)
    got = spark_kn_scores(spark, ["a b a b a c"], {1: "a b"}, D=0.75)
    n, lp, ppl = got[1]
    assert n == 1
    assert lp == pytest.approx(math.log(want), rel=1e-12)


def test_kn_continuation_insight(spark):
    # "francisco" only ever follows "san"; "the" follows many words.
    # Raw counts equal-ish, but p_cont(the) >> p_cont(francisco): scoring
    # them after an UNSEEN history must rank "the" higher - the defining
    # KN property that add-k cannot express.
    ref = ["san francisco "*3 + "a the b the c the d the"]
    got = spark_kn_scores(spark, ref, {1: "zz the", 2: "zz francisco"})
    assert got[1][1] > got[2][1]


def test_kn_oov_and_unseen_history(spark):
    ref = ["a b a b"]
    # V=2 {a,b}, bigrams ab:2 ba:1 -> B=2, denom_c=5; n1b: b->1, a->1
    # unseen history z: p = pc(w2); pc(q unseen) = 1/5, pc(a) = 2/5
    got = spark_kn_scores(spark, ref, {1: "z q", 2: "z a"})
    assert got[1][1] == pytest.approx(math.log(1 / 5), rel=1e-12)
    assert got[2][1] == pytest.approx(math.log(2 / 5), rel=1e-12)


def test_kn_guards(spark):
    ref = spark.createDataFrame([("a b",)], "text string")
    with pytest.raises(ValueError):
        lm.fit_kn_lm(ref, discount=0.0)
    with pytest.raises(ValueError):
        lm.fit_kn_lm(ref, discount=1.0)
    empty = spark.createDataFrame([("",)], "text string")
    with pytest.raises(ValueError, match="empty vocabulary"):
        lm.fit_kn_lm(empty)


@settings(max_examples=DIFF_EXAMPLES, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcd"), min_size=0, max_size=15).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=0, max_size=12).map(" ".join),
        min_size=1,
        max_size=6,
    ),
)
def test_kn_differential(spark, ref_texts, score_texts):
    texts = dict(enumerate(score_texts))
    if not any(t.split() for t in ref_texts):
        with pytest.raises(ValueError, match="empty vocabulary"):
            spark_kn_scores(spark, ref_texts, texts)
        return
    want = ref_kn_scores(ref_texts, texts)
    tol = dict(abs=1e-9)
    assert_scores_match(spark_kn_scores(spark, ref_texts, texts), want, tol)
    dual = spark_dual_scores(spark, ref_texts, texts, k=0.25, D=0.75)
    assert_scores_match({i: kn for i, (_, kn) in dual.items()}, want, tol)


def test_dual_perplexity_matches_separate_scorers(spark, sf_dir):
    """The one-pipeline dual scorer (r8: one explode + one join chain
    for BOTH smoothings) must equal the two single-model scorers
    EXACTLY — identical per-position expressions over identical counts,
    so the doubles match bitwise, not just approximately. Run on the
    real documents table with the graded query's parameters."""
    from wingfoil_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.where(F.col("doc_id") % 7 == 0)
    k, d = 0.1, 0.75
    counts = lm.fit_bigram_counts(ref)
    dual = {
        r.doc_id: r
        for r in lm.dual_perplexity(docs, counts, k=k, discount=d).collect()
    }
    addk = {
        r.doc_id: r
        for r in lm.lm_perplexity(docs, lm.fit_bigram_lm(ref, k=k)).collect()
    }
    kn = {
        r.doc_id: r
        for r in lm.kn_perplexity(
            docs, lm.fit_kn_lm(ref, discount=d)
        ).collect()
    }
    assert set(dual) == set(addk) == set(kn)
    for i, r in dual.items():
        a, n = addk[i], kn[i]
        assert r.n_bigrams == a.n_bigrams == n.n_bigrams, i
        assert r.logprob_addk == a.logprob_per_token, i
        assert r.perplexity_addk == a.perplexity, i
        assert r.logprob_kn == n.logprob_per_token, i
        assert r.perplexity_kn == n.perplexity, i


def test_dual_perplexity_plan_jvm_only(spark, sf_dir):
    """The dual scorer's batch plan must stay JVM-side: no Python
    stages (the explode, joins, and per-doc aggregation are all
    Catalyst), so the one-pipeline share is also whole-stage-codegen
    friendly at scale."""
    from wingfoil_spark.plans.audit import plan_summary
    from wingfoil_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    counts = lm.fit_bigram_counts(docs.where(F.col("doc_id") % 7 == 0))
    s = plan_summary(lm.dual_perplexity(docs, counts))
    assert s["python_stages"] == 0, s
    assert s.get("cartesian_products", 0) == 0, s
