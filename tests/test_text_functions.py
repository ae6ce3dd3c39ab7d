"""Text-analysis unit pins (functions/text.py) on real multilingual
samples — the graded text_stats query exercises exactness on the
synthetic corpus (whose text is English-like under every lang label);
this pins that the heuristics DISCRIMINATE on genuinely distinct text."""

import pyspark.sql.functions as F

from wingfoil_spark.functions import text as tx


def _guess(spark, s):
    df = spark.createDataFrame([(s,)], "text string")
    return df.select(tx.lang_id(F.col("text")).alias("g")).collect()[0].g


def test_lang_id_discriminates_four_languages(spark):
    assert _guess(spark, "the cat sat on the mat and it is a test for the app") == "en"
    assert _guess(spark, "der hund ist ein tier und die katze ist mit dem kind") == "de"
    assert _guess(spark, "le chat est dans la maison et les enfants sont pour une fête du jour") == "fr"
    assert _guess(spark, "los gatos y las casas que son para una fiesta es por el día con amigos") == "es"


def test_lang_id_tie_precedence_en_first(spark):
    # zero stopwords anywhere → all counts tie at 0 → 'en' wins the
    # documented en > de > fr > es precedence
    assert _guess(spark, "zzz qqq xxx") == "en"


def test_quality_score_orders_good_above_junk(spark):
    good = "the quick brown fox jumps over the lazy dog and it is a fine day in the park " * 3
    junk = "@@@ ### !!! $$$ %%% ^^^ &&&"
    df = spark.createDataFrame([(1, good), (2, junk)], "id long, text string")
    rows = {r.id: r.q for r in df.select("id", tx.quality_score(F.col("text")).alias("q")).collect()}
    assert rows[1] > rows[2]
    assert 0.0 <= rows[2] < rows[1] <= 1.0


def test_token_count_and_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "  Hello   World "), (2, "hello world")], "id long, text string"
    )
    out = {
        r.id: (r.n, r.fp)
        for r in df.select(
            "id",
            tx.token_count(F.col("text")).alias("n"),
            tx.fingerprint(F.col("text")).alias("fp"),
        ).collect()
    }
    assert out[1][0] == out[2][0] == 2
    # whitespace + case normalize to the same fingerprint
    assert out[1][1] == out[2][1]


def test_chunk_tokens_window_invariants(spark):
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    out = tx.chunk_tokens(df, size=4, overlap=1).orderBy("doc_id", "chunk_id").collect()
    got = [(r.doc_id, r.chunk_id, r.chunk_text, r.n_chunk_tokens) for r in out]
    assert got == [
        (1, 0, "w0 w1 w2 w3", 4),
        (1, 1, "w3 w4 w5 w6", 4),   # stride 3: one-token overlap
        (1, 2, "w6 w7 w8 w9", 4),
        (2, 0, "a b", 2),           # short doc is its own chunk
        (3, 0, "", 0),              # empty doc: one empty chunk, no pad
    ]
    # coverage: every token of doc 1 appears in at least one chunk
    covered = set()
    for _, _, text, _ in got[:3]:
        covered |= set(text.split())
    assert covered == {f"w{i}" for i in range(10)}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        tx.chunk_tokens(df, size=4, overlap=4)


def test_duplicate_line_ratio_boilerplate_signal(spark):
    clean = "first line\nsecond line\nthird line"
    boiler = "nav menu\nreal content\nnav menu\nnav menu"
    one = "only line"
    df = spark.createDataFrame(
        [(1, clean), (2, boiler), (3, one)], "id long, text string"
    )
    out = {r.id: r.d for r in df.select(
        "id", tx.duplicate_line_ratio(F.col("text")).alias("d")).collect()}
    assert out[1] == 0.0
    assert abs(out[2] - 0.5) < 1e-12  # 4 lines, 2 distinct
    assert out[3] == 0.0              # <=1 line: defined as 0


def test_top_token_ratio_degeneracy_signal(spark):
    varied = "a b c d e f g h"
    degenerate = "spam spam spam spam eggs"
    df = spark.createDataFrame(
        [(1, varied), (2, degenerate), (3, "")], "id long, text string"
    )
    out = {r.id: r.t for r in df.select(
        "id", tx.top_token_ratio(F.col("text")).alias("t")).collect()}
    assert abs(out[1] - 1 / 8) < 1e-12
    assert abs(out[2] - 4 / 5) < 1e-12
    assert out[3] == 0.0


def test_repetition_filter_combines_rules(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),  # passes
            (2, "buy buy buy buy buy now"),                            # top-token
            (3, "menu\nmenu\nmenu\nactual words here and more text"),  # dup lines
            (4, "ok"),                                                 # too short
        ],
        "id long, text string",
    )
    kept = sorted(
        r.id for r in df.where(tx.repetition_filter(F.col("text"))).collect()
    )
    assert kept == [1]


def test_scrub_pii_masks_the_three_shapes(spark):
    s = (
        "contact bob.smith+x@example.co.uk or call +1 (555) 123-4567, "
        "server at 192.168.0.1 said hello"
    )
    df = spark.createDataFrame([(s,)], "text string")
    out = df.select(tx.scrub_pii(F.col("text")).alias("t")).collect()[0].t
    assert "<EMAIL>" in out and "<PHONE>" in out and "<IP>" in out
    assert "example.co.uk" not in out
    assert "555" not in out
    assert "192.168" not in out
    assert "said hello" in out


def test_scrub_pii_leaves_clean_text_alone(spark):
    s = "version 2.1 released in 2026 with 3 fixes"
    df = spark.createDataFrame([(s,)], "text string")
    out = df.select(tx.scrub_pii(F.col("text")).alias("t")).collect()[0].t
    assert out == s


def test_chunk_tokens_property_full_coverage(spark):
    """Property over random (n_tokens, size, overlap): chunks cover every
    token, consecutive chunks overlap by exactly `overlap` (except a
    short tail), and no chunk exceeds `size` tokens."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=10, deadline=None)
    @given(
        st.integers(0, 40),          # n tokens
        st.integers(2, 12),          # size
        st.integers(0, 6),           # overlap (< size enforced below)
    )
    def check(n, size, overlap):
        overlap = min(overlap, size - 1)
        text = " ".join(f"t{i}" for i in range(n))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        rows = (
            tx.chunk_tokens(df, size, overlap)
            .orderBy("chunk_id")
            .collect()
        )
        stride = size - overlap
        toks_seen = []
        for r in rows:
            ts = r.chunk_text.split() if r.chunk_text else []
            assert len(ts) <= size
            assert r.n_chunk_tokens == len(ts)
            assert ts == [f"t{i}" for i in range(r.chunk_id * stride,
                                                 min(r.chunk_id * stride + size, n))]
            toks_seen.extend(ts)
        assert set(toks_seen) == {f"t{i}" for i in range(n)}

    check()


def test_chunk_tokens_binds_on_streams(spark, tmp_path):
    """chunk_tokens is a row-local posexplode+slice — legal on a
    readStream as-is (chunk-at-ingest). Stream output == batch output."""
    import os
    import time

    import pandas as pd

    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": [" ".join(f"w{i}" for i in range(9)), "a b", ""]}
    )
    src = str(tmp_path / "chunksrc")
    os.makedirs(src)
    for i in (0, 1):
        p = os.path.join(src, f"c{i}.parquet")
        pdf.iloc[i : i + 2 if i else 2].iloc[i:].to_parquet(p, index=False)
        os.utime(p, (time.time() + i, time.time() + i))
    pdf.to_parquet(os.path.join(src, "all.parquet"), index=False)
    # simplest deterministic feed: one file with everything
    for f in os.listdir(src):
        if f != "all.parquet":
            os.remove(os.path.join(src, f))

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        tx.chunk_tokens(stream, size=4, overlap=1)
        .writeStream.format("memory")
        .queryName("chunk_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("SELECT * FROM chunk_stream")
        .toPandas()
        .sort_values(["doc_id", "chunk_id"])
        .reset_index(drop=True)
    )
    batch = (
        tx.chunk_tokens(spark.createDataFrame(pdf), size=4, overlap=1)
        .toPandas()
        .sort_values(["doc_id", "chunk_id"])
        .reset_index(drop=True)
    )
    assert got["chunk_text"].tolist() == batch["chunk_text"].tolist()
    assert got["n_chunk_tokens"].tolist() == batch["n_chunk_tokens"].tolist()


def test_null_text_contracts(spark):
    """NULL text across the doc operators: battery features null-propagate,
    simhash/minhash DROP the doc (unknown != unknown — an all-null
    signature would bucket every null doc together), chunking yields one
    empty chunk like the empty string."""
    from wingfoil_spark.functions import dedup as dd

    df = spark.createDataFrame(
        [(1, None), (2, "a b c d"), (3, "")], "doc_id long, text string"
    )
    sigs = dd.minhash_sig_array(df).select("doc_id").toPandas()
    assert sorted(sigs["doc_id"]) == [2, 3]  # null dropped, empty signs
    sh = dd.simhash32(df).toPandas()
    assert sorted(sh["doc_id"]) == [2]       # vote-less docs drop
    ch = tx.chunk_tokens(df, 2, 0).toPandas()
    nullrows = ch[ch.doc_id == 1]
    assert len(nullrows) == 1
    assert nullrows.iloc[0]["chunk_text"] == ""
    assert nullrows.iloc[0]["n_chunk_tokens"] == 0


# ---------------------------------------------------- decontamination tier


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_decontaminate_flags_ngram_overlap(spark):
    """A corpus doc embedding a verbatim benchmark sentence (>= n shared
    tokens) is flagged; clean docs report zero hits."""
    from wingfoil_spark.functions.dedup import decontaminate

    bench_sent = "the quick brown fox jumps over the lazy dog every single day"
    corpus = _corpus(spark, [
        (1, "prefix words then " + bench_sent + " and a suffix"),
        (2, "an entirely different document about spark plans"),
        (3, bench_sent),  # verbatim copy
    ])
    bench = _corpus(spark, [(100, bench_sent)])
    flagged = {r.doc_id: r for r in decontaminate(corpus, bench, n=12).collect()}
    assert set(flagged) == {1, 3}, "default emission: flagged docs only"
    assert flagged[1].n_hits >= 1 and flagged[1].contaminated
    out = {r.doc_id: r for r in
           decontaminate(corpus, bench, n=12, report_clean=True).collect()}
    assert len(out) == 3, "report_clean: every corpus doc reported"
    assert not out[2].contaminated and out[2].n_hits == 0


def test_decontaminate_boundary_below_n_is_clean(spark):
    """Sharing n-1 consecutive tokens is NOT contamination (the n-gram
    window never matches); docs shorter than n tokens are trivially
    clean."""
    from wingfoil_spark.functions.dedup import decontaminate

    bench = _corpus(spark, [(0, "a b c d e f g h i j k l m")])  # 13 tokens
    corpus = _corpus(spark, [
        (1, "a b c d e f g h i j k l"),   # only 12 of the 13 → clean
        (2, "short doc"),                  # < n tokens → clean
        (3, "x a b c d e f g h i j k l m y"),  # full 13-gram inside → hit
    ])
    out = {r.doc_id: r.contaminated for r in
           decontaminate(corpus, bench, n=13, report_clean=True).collect()}
    assert out == {1: False, 2: False, 3: True}


def test_decontaminate_min_hits_threshold(spark):
    """min_hits raises the evidence bar: one shared n-gram stops flagging
    when two distinct shared n-grams are required."""
    from wingfoil_spark.functions.dedup import decontaminate

    bench = _corpus(spark, [(0, "one two three four"), (1, "five six seven eight")])
    corpus = _corpus(spark, [
        (1, "xx one two three four yy"),                       # 1 shared 4-gram
        (2, "one two three four and five six seven eight"),    # 2 shared
    ])
    res1 = {r.doc_id for r in decontaminate(corpus, bench, n=4, min_hits=1).collect()}
    res2 = {r.doc_id for r in decontaminate(corpus, bench, n=4, min_hits=2).collect()}
    assert res1 == {1, 2}
    assert res2 == {2}


def test_decontaminate_plan_never_shuffles_corpus_scan(spark):
    """Scale gate: the benchmark side broadcasts (eval sets are tiny); the
    corpus reaches the join through row-local stages only — no corpus-side
    Exchange below the broadcast join, and no cartesian product anywhere."""
    from wingfoil_spark.functions.dedup import decontaminate

    bench = _corpus(spark, [(0, "a b c d")])
    corpus = _corpus(spark, [(i, f"doc {i} a b c d tail") for i in range(50)])
    plan = decontaminate(corpus, bench, n=4)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, "benchmark grams must broadcast"
    assert "CartesianProduct" not in plan
    # default (flagged-only) emission never joins back onto the corpus:
    # the only exchanges are the broadcast itself and the per-doc
    # hit-count aggregation over rows that matched
    assert "SortMergeJoin" not in plan, \
        "corpus must stream into the broadcast join unshuffled"


def test_single_token_doc_survives_shingle_paths(spark):
    """Regression hardening: sequence(1, 0) DESCENDS in Spark, so the
    unguarded bigram bound indexed out of bounds for a 1-token doc and
    ANSI mode aborted the JOB when the bigrams were evaluated directly
    (minhash's size guard masked it). The n-gram builder minhash shingles
    with is total: [] for short docs, and minhash keeps its lone-token
    signature policy."""
    import pyspark.sql.functions as F

    from wingfoil_spark.functions import dedup
    from wingfoil_spark.functions.text import tokens

    docs = _corpus(spark, [(1, "solo"), (2, "two words here"), (3, "x")])
    # direct, unguarded evaluation no longer aborts
    bg = (docs.withColumn("__toks", tokens(F.col("text")))
              .select("doc_id", dedup.word_ngrams_expr("__toks", 2).alias("bg")))
    got = {r.doc_id: r.bg for r in bg.collect()}
    assert got[1] == [] and got[3] == [], "short docs shingle to []"
    assert got[2] == ["two words", "words here"]
    # minhash still signs every doc (lone-token fallback shingle)
    sigs = dedup.minhash_signatures(docs)
    assert sigs.count() == 3


def test_word_ngrams_expr_resolves_caller_column_like_f_col(spark):
    """word_ngrams_expr resolves its caller's column through the Column
    API: a dotted struct field, a backticked name holding a dot and a
    name with a hyphen give the n-grams the internal-name SQL text gives
    on the same tokens (short, empty and NULL arrays included)."""
    import pyspark.sql.functions as F

    from wingfoil_spark.functions import dedup

    df = spark.createDataFrame(
        [(1, ["a", "b", "c", "d"]), (2, ["a", "b", "c"]), (3, ["x", "y"]),
         (4, []), (5, None)],
        "id long, __toks array<string>",
    )
    want = {
        r.id: r.g
        for r in df.select("id", F.expr(dedup._ngrams_sql(3)).alias("g")).collect()
    }
    assert want[1] == ["a b c", "b c d"] and want[3] == [] and want[5] is None
    cases = [
        (df.select("id", F.struct(F.col("__toks").alias("toks")).alias("meta")),
         "meta.toks"),
        (df.select("id", F.col("__toks").alias("my.toks")), "`my.toks`"),
        (df.select("id", F.col("__toks").alias("tok-s")), "tok-s"),
    ]
    for frame, name in cases:
        got = {
            r.id: r.g
            for r in frame.select(
                "id", dedup.word_ngrams_expr(name, 3).alias("g")
            ).collect()
        }
        assert got == want, name


def test_gopher_quality_flags(spark):
    """The published Gopher A1.1 rules as a struct column: a healthy doc
    passes every rule; each degenerate shape trips exactly its rule."""
    from wingfoil_spark.functions.text import gopher_quality_flags

    healthy = " ".join(
        ["the quick brown fox jumps over a lazy dog and then it rests"] * 5
    )
    bullets = "\n".join(f"- item {i}" for i in range(10))
    symbols = " ".join(["word #tag"] * 30)
    nonalpha = " ".join(["12345"] * 60)
    short = "too short"
    rows = [(1, healthy), (2, bullets), (3, symbols), (4, nonalpha), (5, short)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.g.asDict()
        for r in df.select(
            "doc_id", gopher_quality_flags(F.col("text"), min_words=20).alias("g")
        ).collect()
    }
    assert out[1]["keep"] is True, out[1]
    assert out[2]["bullet_lines"] is False and out[2]["keep"] is False
    assert out[3]["symbol_ratio"] is False and out[3]["keep"] is False
    assert out[4]["alpha_words"] is False and out[4]["keep"] is False
    assert out[5]["word_count"] is False and out[5]["keep"] is False
    # plan stays row-local JVM (no shuffle, no Python stage)
    plan = df.select(gopher_quality_flags(F.col("text")).alias("g")) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
