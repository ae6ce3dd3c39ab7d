"""Corpus-curation operators (functions/curation.py): deterministic
sampling / mixing / token-budget sharding. Correctness is pinned against
plain-pandas recomputation; determinism and the distributed prefix-sum
equivalence get their own tests."""

import hashlib

import pandas as pd
import pyspark.sql.functions as F
import pytest

from wingfoil_spark.functions import curation as cu
from wingfoil_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _draw(tag: str, doc_id: int) -> int:
    return int(hashlib.md5(f"{tag}{doc_id}".encode()).hexdigest()[:15], 16)


def test_hash_sample_matches_reference_draws(spark, docs):
    got = set(cu.hash_sample(docs, 0.25, tag="t1").toPandas()["doc_id"])
    pdf = docs.select("doc_id").toPandas()
    thr = int(0.25 * cu.HASH_SPACE)
    want = {int(i) for i in pdf["doc_id"] if _draw("t1", int(i)) < thr}
    assert got == want
    # ~25% of 500 docs, loose 3-sigma bound
    assert 80 <= len(got) <= 170


def test_hash_sample_is_deterministic_and_tag_seeded(spark, docs):
    a = set(cu.hash_sample(docs, 0.5, tag="a").toPandas()["doc_id"])
    a2 = set(cu.hash_sample(docs, 0.5, tag="a").toPandas()["doc_id"])
    b = set(cu.hash_sample(docs, 0.5, tag="b").toPandas()["doc_id"])
    assert a == a2
    assert a != b  # different seed → different draw


def test_hash_sample_nesting(spark, docs):
    """A smaller fraction with the same tag is a SUBSET of a larger one —
    the threshold family is nested (lets a pipeline dial sample size
    without resampling everything)."""
    small = set(cu.hash_sample(docs, 0.1, tag="n").toPandas()["doc_id"])
    big = set(cu.hash_sample(docs, 0.4, tag="n").toPandas()["doc_id"])
    assert small <= big


def test_weighted_mix_rates_and_allowlist(spark, docs):
    sources = [r["source"] for r in docs.select("source").distinct().collect()]
    keep_all, keep_none = sources[0], sources[1] if len(sources) > 1 else None
    rates = {keep_all: 1.0}
    if keep_none is not None:
        rates[keep_none] = 0.0
    got = cu.weighted_mix(docs, rates, tag="m").toPandas()
    # rate 1.0 keeps every row of that domain; rate 0.0 and absent drop all
    n_all = docs.where(F.col("source") == keep_all).count()
    assert (got["source"] == keep_all).sum() == n_all
    assert set(got["source"]) == {keep_all}


def test_weighted_mix_matches_per_domain_hash_sample(spark, docs):
    """mix(rates) == union of hash_sample(rate) restricted per domain with
    the same tag (the CASE expression is just the fused form)."""
    have = sorted(s for (s,) in docs.select("source").distinct().collect())
    rates = {have[0]: 0.3, have[-1]: 0.8}
    got = set(cu.weighted_mix(docs, rates, tag="x").toPandas()["doc_id"])
    want = set()
    for dom, rate in rates.items():
        sub = cu.hash_sample(
            docs.where(F.col("source") == dom), rate, tag="x"
        )
        want |= set(sub.toPandas()["doc_id"])
    assert got == want


def test_stratified_take_exact_n_deterministic_ties(spark, docs):
    n = 7
    got = cu.stratified_take(docs, n, group_col="lang", tag="st").toPandas()
    pdf = docs.select("doc_id", "lang").toPandas()
    for lang, grp in pdf.groupby("lang"):
        ids = sorted(
            (int(i) for i in grp["doc_id"]),
            key=lambda i: (_draw("st", i), i),
        )[:n]
        sub = got[got["lang"] == lang].sort_values("strat_rank")
        assert sub["doc_id"].tolist() == ids
        assert sub["strat_rank"].tolist() == list(range(1, len(ids) + 1))


def test_token_budget_shards_matches_pandas_cumsum(spark, docs):
    budget = 5000
    got = (
        cu.token_budget_shards(docs, budget)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pdf = docs.select("doc_id", "text").toPandas().sort_values("doc_id")
    ntok = pdf["text"].map(lambda t: len([w for w in t.strip().lower().split() if w]))
    cum = ntok.cumsum()
    assert got["n_tokens"].tolist() == ntok.tolist()
    assert got["cum_tokens"].tolist() == [int(x) for x in cum]
    want_shard = [(c - n) // budget for c, n in zip(cum, ntok)]
    assert got["shard"].tolist() == want_shard
    # shard ids are contiguous from 0
    shards = got["shard"].unique().tolist()
    assert shards == list(range(len(shards)))


def test_token_budget_shards_bucket_count_invariance(spark, docs):
    """The distributed prefix sum is bucket-count invariant: 1 bucket
    (fully sequential) == 64 == a prime count. Pins the two-phase
    offsets against the trivially correct single-bucket plan."""
    a = cu.token_budget_shards(docs, 3000, n_buckets=1).toPandas()
    b = cu.token_budget_shards(docs, 3000, n_buckets=64).toPandas()
    c = cu.token_budget_shards(docs, 3000, n_buckets=7).toPandas()
    key = "doc_id"
    a, b, c = (x.sort_values(key).reset_index(drop=True) for x in (a, b, c))
    for col in ("cum_tokens", "shard"):
        assert a[col].tolist() == b[col].tolist() == c[col].tolist()


@pytest.mark.parametrize("id_type", ["bigint", "string"])
@pytest.mark.parametrize("name, ref", [("doc.id", "`doc.id`"),
                                       ("doc`id", "`doc``id`")])
def test_token_budget_shards_quoted_id_column(spark, docs, id_type, name, ref):
    """A dotted or backtick-carrying id column, referenced the F.col way,
    shards exactly like a plainly named one and keeps its name."""
    plain = docs.select(F.col("doc_id").cast(id_type).alias("doc_id"), "text")
    quoted = plain.withColumnRenamed("doc_id", name)
    want = cu.token_budget_shards(plain, 3000, n_buckets=7).toPandas()
    got = cu.token_budget_shards(quoted, 3000, id_col=ref, n_buckets=7).toPandas()
    assert got.columns.tolist() == [name, "n_tokens", "cum_tokens", "shard"]
    got = got.rename(columns={name: "doc_id"}).sort_values("doc_id")
    want = want.sort_values("doc_id")
    assert len(got) == docs.count()
    pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                  want.reset_index(drop=True))


def test_token_budget_shards_sparse_gappy_ids(spark):
    """Property: the prefix sum is exact for ARBITRARY id spacing — huge
    gaps leave most equal-width buckets empty (totals.get default) and
    cluster rows into few buckets; the cumsum must not care."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 2**40), st.integers(0, 50)),
            min_size=1, max_size=60, unique_by=lambda t: t[0],
        )
    )
    def check(rows):
        pdf = pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "text": [" ".join(["w"] * r[1]) for r in rows],
            }
        )
        df = spark.createDataFrame(pdf)
        got = (
            cu.token_budget_shards(df, 97, n_buckets=13)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        ordered = pdf.sort_values("doc_id")
        ntok = [len([w for w in t.split() if w]) for t in ordered["text"]]
        cum = pd.Series(ntok).cumsum()
        assert got["cum_tokens"].tolist() == [int(x) for x in cum]
        assert got["shard"].tolist() == [
            (c - n) // 97 for c, n in zip(cum, ntok)
        ]

    check()


def test_token_budget_shards_60bit_ids_no_row_dropped(spark):
    """Regression (ADVICE r4): float bucket division past 2^53 could
    round a top-edge id into bucket nb (absent from the offsets table)
    and silently drop the row at the inner join. Ids here are the
    library's own 60-bit md5-derived shape, pinned at the exact top edge
    of the id span — the bucket index must come from integer `div`."""
    top = (1 << 60) - 1
    # a tight cluster at the top edge plus a far-away lo anchor: with
    # float division, (top - lo) / width rounds to nb for the edge ids
    ids = [7, top - 2, top - 1, top]
    pdf = pd.DataFrame(
        {"doc_id": ids, "text": ["w w w" for _ in ids]}
    )
    df = spark.createDataFrame(pdf)
    got = cu.token_budget_shards(df, 5, n_buckets=13).toPandas()
    assert len(got) == len(ids), "a row was dropped at the offsets join"
    got = got.sort_values("doc_id").reset_index(drop=True)
    assert got["cum_tokens"].tolist() == [3, 6, 9, 12]
    assert got["shard"].tolist() == [0, 0, 1, 1]


def test_token_budget_shards_empty_frame(spark, docs):
    out = cu.token_budget_shards(docs.where(F.lit(False)), 1000)
    assert out.count() == 0
    assert set(out.columns) == {"doc_id", "n_tokens", "cum_tokens", "shard"}


def test_rowlocal_curation_ops_bind_on_streams(spark, docs):
    """hash_sample / weighted_mix are stateless Catalyst filters — legal
    on a streaming frame as-is (the crawl-ingest mixing path). Stream
    output == batch output. Sharding is order-coupled by definition and
    stays batch (run it on each corpus snapshot)."""
    import os
    import shutil
    import tempfile
    import time

    pdf = docs.toPandas().sort_values("doc_id")
    src_dir = tempfile.mkdtemp(prefix="wf_cur_stream_")
    try:
        half = len(pdf) // 2
        for i, chunk in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
            p = os.path.join(src_dir, f"c{i}.parquet")
            chunk.to_parquet(p, index=False)
            os.utime(p, (time.time() + i, time.time() + i))
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string, n_chars long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        srcs = sorted(s for (s,) in docs.select("source").distinct().collect())
        rates = {srcs[0]: 1.0, srcs[1]: 0.4}
        out = cu.weighted_mix(cu.hash_sample(stream, 0.7, tag="sc"), rates, tag="sm")
        q = (
            out.writeStream.format("memory")
            .queryName("cur_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = set(spark.sql("SELECT doc_id FROM cur_stream").toPandas()["doc_id"])
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
    want = set(
        cu.weighted_mix(cu.hash_sample(docs, 0.7, tag="sc"), rates, tag="sm")
        .toPandas()["doc_id"]
    )
    assert got == want


def test_token_budget_shards_plan_has_no_global_window(spark, docs):
    """Scale gate: the plan must contain no empty-partition-spec Window
    (single-task global sort) — the whole point of the two-phase form."""
    plan = cu.token_budget_shards(docs, 5000)._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    # Spark renders a global window as 'Window [...], [id ASC ...]' with no
    # partition spec; ours is partitioned by __bkt
    assert "__bkt" in plan


def test_token_budget_shards_null_text_contract(spark):
    """NULL text counts 0 tokens and still gets a shard row — a null doc
    must not poison the cumulative sum (it crashed the offsets collect
    before this contract was pinned). exact-dedup side: null fingerprints
    group like SQL GROUP BY (the oracle's semantics) — pipelines drop
    null docs at the quality gate before dedup."""
    df = spark.createDataFrame(
        [(1, None), (2, "a b c"), (3, "")], "doc_id long, text string"
    )
    got = (
        cu.token_budget_shards(df, 2)
        .orderBy("doc_id")
        .collect()
    )
    assert [(r.doc_id, r.n_tokens, r.cum_tokens, r.shard) for r in got] == [
        (1, 0, 0, 0),
        (2, 3, 3, 0),
        (3, 0, 3, 1),
    ]


def test_describe_corpus_summary(spark, docs):
    out = cu.describe_corpus(docs).toPandas()
    # one row per (lang, source) present in the corpus
    want_groups = docs.select("lang", "source").distinct().count()
    assert len(out) == want_groups
    assert set(out.columns) == {
        "lang", "source", "n_docs", "total_tokens", "mean_tokens",
        "token_p10_p50_p90", "mean_quality",
    }
    assert out["n_docs"].sum() == docs.count()
    # quantiles ordered, totals consistent
    for _, r in out.iterrows():
        p10, p50, p90 = r["token_p10_p50_p90"]
        assert p10 <= p50 <= p90
        assert r["total_tokens"] >= r["n_docs"] * p10


def test_token_budget_shards_string_ids(spark):
    """String/UUID ids (round-5 ADVICE-low): shards must be contiguous in
    id ORDER and cum_tokens must match a pandas cumsum over the sorted
    ids, same as the numeric path; n_buckets must not change the result."""
    import pandas as pd

    texts = [(f"doc-{i:04d}", "w " * ((i * 7) % 23 + 1)) for i in range(200)]
    df = spark.createDataFrame(texts, "doc_id string, text string")
    a = (
        cu.token_budget_shards(df, 100, n_buckets=1)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    b = (
        cu.token_budget_shards(df, 100, n_buckets=16)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)
    assert len(a) == 200
    want_cum = a["n_tokens"].cumsum()
    assert (a["cum_tokens"].to_numpy() == want_cum.to_numpy()).all()
    assert (
        a["shard"].to_numpy() == (a["cum_tokens"] - a["n_tokens"]) // 100
    ).all()
    # contiguity: shard is non-decreasing in id order
    assert (a["shard"].diff().fillna(0) >= 0).all()


def test_pack_sequences_string_ids(spark):
    """pack_sequences end to end on string ids: output id column keeps the
    input type (no hardcoded long schema) and packing is deterministic."""
    texts = [(f"u-{i:03d}", "tok " * ((i % 9) + 1)) for i in range(60)]
    df = spark.createDataFrame(texts, "doc_id string, text string")
    out = cu.pack_sequences(df, seq_len=16)
    assert dict(out.dtypes)["doc_id"] == "string"
    pdf = out.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert len(pdf) == 60
    assert (pdf["seq_fill"] <= 16).all() | (pdf["n_tokens"] > 16).any()
    again = cu.pack_sequences(df, seq_len=16).toPandas().sort_values(
        "doc_id"
    ).reset_index(drop=True)
    assert pdf["seq_id"].tolist() == again["seq_id"].tolist()


def test_train_val_test_split_matches_reference_draws(spark, docs):
    """Split labels come from the canonical cumulative ranges over
    md5(tag||key) — recompute every label with hashlib + the exposed
    split_thresholds and demand equality, full coverage, determinism."""
    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    out = cu.train_val_test_split(docs, w).select("doc_id", "split").toPandas()
    thr = cu.split_thresholds(w)
    last = sorted(w)[-1]

    def expect(doc_id):
        d = _draw("split", doc_id)
        for name, t in thr:
            if d < t:
                return name
        return last

    assert len(out) == docs.count()  # a split is a projection: no row lost
    for doc_id, got in zip(out["doc_id"], out["split"]):
        assert got == expect(doc_id), doc_id
    again = cu.train_val_test_split(docs, w).select("doc_id", "split").toPandas()
    assert out.sort_values("doc_id").values.tolist() == \
        again.sort_values("doc_id").values.tolist()


def test_train_val_test_split_group_leakage_guard(spark, docs):
    """group_col= keys the draw on the group, so every row of a group
    lands in ONE split — the near-dup contamination defence. Pinned by
    counting distinct splits per group (must be 1 for all groups) and by
    cross-checking one group's label against the group-keyed draw."""
    out = (
        cu.train_val_test_split(docs, {"train": 0.8, "val": 0.2},
                                group_col="source")
        .groupBy("source")
        .agg(F.countDistinct("split").alias("n"), F.first("split").alias("s"))
        .collect()
    )
    assert out and all(r.n == 1 for r in out)
    thr = cu.split_thresholds({"train": 0.8, "val": 0.2})
    for r in out:
        d = int(hashlib.md5(f"split{r.source}".encode()).hexdigest()[:15], 16)
        want = next((n for n, t in thr if d < t), "val")
        assert r.s == want, r.source


def test_train_val_test_split_weight_validation():
    with pytest.raises(ValueError, match="sum to 1"):
        cu.split_thresholds({"train": 0.9, "val": 0.05})
    with pytest.raises(ValueError, match="non-negative"):
        cu.split_thresholds({"train": 1.5, "val": -0.5})
    with pytest.raises(ValueError, match="non-empty"):
        cu.split_thresholds({})


def test_train_val_test_split_null_key_gets_null_split(spark):
    """A NULL key/group cannot be deterministically assigned: the split
    label is NULL (explicit), never a silent bucket — otherwise every
    null-metadata doc funnels into the lexicographically-last split."""
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "source": ["web", None]}),
        "doc_id long, source string",
    )
    out = {r.doc_id: r.split for r in cu.train_val_test_split(
        df, {"train": 0.5, "val": 0.5}, group_col="source").collect()}
    assert out[1] in ("train", "val") and out[2] is None


def test_describe_corpus_excludes_null_quality_from_mean(spark):
    """mean_quality's denominator is count of NON-NULL scores: an
    empty-text doc (quality NULL) must not drag the group mean toward
    zero — the quantized rewrite keeps F.avg's null exclusion."""
    import pandas as pd

    from wingfoil_spark.functions.text import quality_score

    df = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [1, 2, 3],
            "lang": ["en"] * 3,
            "source": ["web"] * 3,
            "text": ["the quick brown fox jumps over a lazy dog", "", None],
        }),
        "doc_id long, lang string, source string, text string",
    )
    qs = df.select(quality_score(F.col("text")).alias("q")).collect()
    assert qs[1].q is None and qs[2].q is None, "empty/null text scores NULL"
    row = cu.describe_corpus(df).collect()[0]
    want = round(round(qs[0].q * 1e9) / 1e9, 4)
    assert row.mean_quality == want, (row.mean_quality, want)


def test_split_thresholds_properties():
    """Property pins on the pure range arithmetic (hypothesis): for any
    valid weights, thresholds are strictly within the hash space,
    monotonically non-decreasing in lexicographic name order, and the
    implied range widths match the weights to float precision — so no
    row can be dropped or double-assigned regardless of the dict."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @st.composite
    def weight_dicts(draw):
        n = draw(st.integers(min_value=1, max_value=6))
        names = [f"s{i}" for i in range(n)]
        raw = [draw(st.floats(min_value=0.01, max_value=1.0)) for _ in names]
        total = sum(raw)
        w = {k: v / total for k, v in zip(names, raw)}
        # re-normalize the residual onto the last name so the sum is
        # exactly 1.0 within the validator's 1e-9 (float division slack)
        w[names[-1]] += 1.0 - sum(w.values())
        return w

    @given(weight_dicts())
    @settings(max_examples=200, deadline=None)
    def check(w):
        thr = cu.split_thresholds(w)
        names = sorted(w)
        assert [n for n, _ in thr] == names[:-1]
        prev = 0
        for (name, t) in thr:
            assert 0 <= t <= cu.HASH_SPACE
            assert t >= prev, "ranges must be non-decreasing"
            # range width tracks the weight; a double at 2^60 magnitude
            # has ~256-unit ulps and cum is a float sum, so allow a few
            # ulps (1024/2^60 ≈ 1e-15 relative — nothing can be dropped)
            assert abs((t - prev) - w[name] * cu.HASH_SPACE) <= 1024
            prev = t
        # the last split owns the remainder: implied width == its weight
        last_w = (cu.HASH_SPACE - prev) / cu.HASH_SPACE
        assert abs(last_w - w[names[-1]]) < 1e-8

    check()
