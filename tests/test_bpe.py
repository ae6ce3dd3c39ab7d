"""BPE tokenizer (functions/bpe.py): training differential vs an
independent brute-force trainer (merge-ALL-occurrences formulation, vs the
library's vocab-rewrite formulation), encode parity with the training
segmentation, determinism, and the Sennrich-paper example."""

import os
from collections import Counter

import pytest
from hypothesis import given, settings, strategies as st

from wingfoil_spark.functions import bpe

#: hypothesis examples for the trainer/encoder differential: a bounded
#: budget in the default lane, the full one with WINGFOIL_FULL_SUITE=1
DIFF_EXAMPLES = 10 if os.environ.get("WINGFOIL_FULL_SUITE", "") == "1" else 5


# ----------------------------------------------------- independent reference


def ref_train(texts: list[str], n_merges: int):
    """Classic formulation: words as symbol tuples; each round counts all
    adjacent pairs and merges EVERY occurrence of the (count desc, pair
    asc) winner."""
    words = Counter()
    for t in texts:
        for w in t.lower().split():
            words[tuple(list(w) + [bpe.END])] += 1
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, n in words.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        new = Counter()
        for syms, n in words.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] += n
        words = new
    return merges, words


def ref_encode(word: str, merges) -> list[str]:
    """Merge-all-occurrences by rank priority (the standard encoder)."""
    ranks = {p: i for i, p in enumerate(merges)}
    syms = list(word) + [bpe.END]
    while len(syms) > 1:
        cand = [(ranks[p], p) for p in zip(syms, syms[1:]) if p in ranks]
        if not cand:
            break
        _, best = min(cand)
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and (syms[i], syms[i + 1]) == best:
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


# ----------------------------------------------------------------- contracts


def test_sennrich_style_example(spark):
    # the canonical toy: 'low'x5 'lower'x2 'newest'x6 'widest'x3 —
    # first merges are (e,s) 9, then (es,t) 9, then (est,</w>) 9
    corpus = ["low " * 5 + "lower " * 2 + "newest " * 6 + "widest " * 3]
    docs = spark.createDataFrame([(t,) for t in corpus], "text string")
    merges = bpe.train_bpe(docs, n_merges=5)
    assert merges[:3] == [("e", "s"), ("es", "t"), ("est", bpe.END)]
    want, _ = ref_train(corpus, 5)
    assert merges == want


def test_train_differential_and_encode_parity(spark):
    corpus = [
        "the cat sat on the mat",
        "the cats sat on the mats",
        "a catalog of cats and mats",
    ]
    docs = spark.createDataFrame([(t,) for t in corpus], "text string")
    merges = bpe.train_bpe(docs, n_merges=20)
    want_merges, want_vocab = ref_train(corpus, 20)
    assert merges == want_merges
    # encode reproduces the trained segmentation on every training word
    enc = bpe.bpe_encode(docs, merges)
    segs = {}
    for r in enc.collect():
        toks = list(r.bpe_tokens)
        for w in r.text.lower().split():
            k = ref_encode(w, merges)
            got = toks[: len(k)]
            toks = toks[len(k):]
            segs[w] = got
            assert got == k, (w, got, k)
    # the trained vocab's own segmentation agrees
    for syms, _ in want_vocab.items():
        word = "".join(syms).replace(bpe.END, "")
        assert segs.get(word, ref_encode(word, merges)) == list(syms)


@settings(max_examples=DIFF_EXAMPLES, deadline=None)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="abc", min_size=1, max_size=6),
            min_size=1,
            max_size=10,
        ).map(" ".join),
        min_size=1,
        max_size=5,
    ),
    st.integers(min_value=0, max_value=12),
)
def test_hypothesis_differential(spark, texts, n_merges):
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    merges = bpe.train_bpe(docs, n_merges=n_merges)
    want, _ = ref_train(texts, n_merges)
    assert merges == want
    rows = bpe.bpe_encode(docs, merges).collect()
    for r in rows:
        want_toks = [s for w in r.text.lower().split() for s in ref_encode(w, merges)]
        assert list(r.bpe_tokens) == want_toks


def test_merges_table_roundtrip(spark):
    corpus = ["ab ab ab ac"]
    docs = spark.createDataFrame([(t,) for t in corpus], "text string")
    merges = bpe.train_bpe(docs, n_merges=3)
    tbl = bpe.merges_table(spark, merges)
    a = bpe.bpe_encode(docs, merges).collect()[0].bpe_tokens
    b = bpe.bpe_encode(docs, tbl).collect()[0].bpe_tokens
    assert list(a) == list(b)
    assert tbl.columns == ["rank", "left", "right", "token"]


def test_token_count_and_nulls(spark):
    docs = spark.createDataFrame(
        [(1, "aa aa bb"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    merges = bpe.train_bpe(docs, n_merges=2)
    got = {
        r.doc_id: r.n_bpe_tokens
        for r in bpe.bpe_token_count(docs, merges).collect()
    }
    assert got[2] == 0 and got[3] == 0 and got[1] > 0


def test_guard(spark):
    docs = spark.createDataFrame([("x",)], "text string")
    with pytest.raises(ValueError):
        bpe.train_bpe(docs, n_merges=-1)


# --------------------------------------- incremental trainer (round 6)


def _rand_vocab(rng, n_words, alpha=3):
    words = {}
    for _ in range(n_words):
        w = "".join(rng.choice("abc") for _ in range(rng.randint(1, 8)))
        words[tuple(list(w) + [bpe.END])] = rng.randint(1, 50)
    return words


def test_incremental_trainer_matches_naive():
    """The production incremental loop (heap + delta updates) must emit a
    BITWISE-identical merge list to the textbook recount loop, across
    random vocabularies and merge depths."""
    import random

    rng = random.Random(17)
    for trial in range(30):
        vocab = _rand_vocab(rng, rng.randint(1, 40))
        n = rng.randint(0, 60)
        assert bpe._train_merges(vocab, n) == bpe._train_merges_naive(
            vocab, n
        ), (vocab, n)


def test_incremental_trainer_resurrected_pair():
    """A later merge can RE-CREATE adjacency of an already-merged pair
    (symbols grow by concatenation: merging (x,y) in 'a x y' yields
    'a xy', resurrecting (a, xy) if that pair merged earlier elsewhere).
    The incremental loop must see it exactly like a full recount."""
    vocab = {
        ("a", "b", bpe.END): 10,          # drives (a,b) early
        ("a", "x", "y", bpe.END): 9,      # later (x,y) -> 'xy'
        ("x", "y", bpe.END): 8,
    }
    for n in range(1, 10):
        assert bpe._train_merges(dict(vocab), n) == bpe._train_merges_naive(
            dict(vocab), n
        )


def test_incremental_trainer_speed():
    """1k merges over a realistic word table in seconds, not minutes —
    the verdict's production-shape bar (Next #4)."""
    import random
    import time

    rng = random.Random(5)
    vocab = {}
    while len(vocab) < 20_000:
        w = "".join(
            rng.choice("abcdefghijklmnopqrstuvwxyz")
            for _ in range(rng.randint(2, 12))
        )
        vocab[tuple(list(w) + [bpe.END])] = rng.randint(1, 1000)
    t0 = time.monotonic()
    merges = bpe._train_merges(vocab, 1000)
    dt = time.monotonic() - t0
    assert len(merges) == 1000
    assert dt < 30, f"incremental trainer took {dt:.1f}s for 1k merges"


def test_encode_unicode_whitespace_parity(spark):
    """Encode-time tokenization goes through the SAME Catalyst tokens()
    expression as word_counts/train_bpe (round-5 ADVICE): Java's \\s is
    ASCII-only, so NBSP stays INSIDE a word on both sides — a Python
    str.split() at encode time would split it and drift from the trained
    segmentation. Pin: (a) ASCII whitespace/case normalize identically;
    (b) an NBSP-joined word encodes as ONE word (exactly one trailing
    word-end marker), matching what the trainer counted."""
    import pyspark.sql.functions as F

    from wingfoil_spark.functions.text import tokens as cat_tokens

    corpus = ["low low lower newest newest widest"]
    docs = spark.createDataFrame([(t,) for t in corpus], "text string")
    merges = bpe.train_bpe(docs, 10)
    fancy = spark.createDataFrame(
        [(1, "low newest"), (2, "low\u00a0newest"), (3, "LOW\tNEWEST")],
        "id long, text string",
    )
    got = {
        r.id: list(r.bpe_tokens)
        for r in bpe.bpe_encode(fancy, merges).collect()
    }
    assert got[3] == got[1]  # tab + case normalize like the trainer
    # NBSP does NOT split under tokens() — one word, one </w> terminator,
    # and the word count seen at encode time equals the trainer's view
    assert sum(t.endswith(bpe.END) for t in got[2]) == 1
    n_words = {
        r.id: r.n
        for r in fancy.select(
            "id", F.size(cat_tokens(F.col("text"))).alias("n")
        ).collect()
    }
    for i in (1, 2, 3):
        assert sum(t.endswith(bpe.END) for t in got[i]) == n_words[i]
