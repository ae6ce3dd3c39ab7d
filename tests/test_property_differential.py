"""Property-based differential tests: the combine-latest machinery vs an
independent single-threaded Python reference interpreter — the reference's
pattern 2 (SURVEY §5: same graph executed on two engines must agree
byte-for-byte; here hypothesis generates the tick histories).

The Python model replays ticks in (ts, side-priority, seq) order holding
one latch per side — semantically the reference's interpreted engine; the
Spark implementation is the union+window plan. Divergence means the plan
broke the combine-latest contract."""

import os

from hypothesis import given, settings, strategies as st

from wingfoil_spark import Stream

#: hypothesis examples for the combine-latest differential: a bounded
#: budget in the default lane, the full one with WINGFOIL_FULL_SUITE=1
COMBINE_EXAMPLES = 12 if os.environ.get("WINGFOIL_FULL_SUITE", "") == "1" else 5


def model_combine_latest(left, right):
    """Single-threaded oracle: left/right are [(ts, seq, value)]."""
    events = [(ts, 0, seq, "R", v) for ts, seq, v in right] + [
        (ts, 1, seq, "L", v) for ts, seq, v in left
    ]
    events.sort(key=lambda e: (e[0], e[1], e[2]))
    la = lb = None
    out = {}
    for ts, _side, _seq, which, v in events:
        if which == "L":
            la = v
        else:
            lb = v
        out[ts] = (la, lb)  # one emission per instant: last state wins
    return sorted((ts, a, b) for ts, (a, b) in out.items())


ticks = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),     # ts: small domain → collisions
        st.integers(min_value=0, max_value=100),   # seq
        st.integers(min_value=-5, max_value=5).map(float),
    ),
    min_size=0,
    max_size=6,
    unique_by=lambda t: t[1],
)


@settings(max_examples=COMBINE_EXAMPLES, deadline=None)
@given(left=ticks, right=ticks)
def test_combine_latest_matches_model(spark, left, right):
    # seqs must be globally unique across both sides for a total order
    right = [(ts, seq + 1000, v) for ts, seq, v in right]
    if not left and not right:
        return
    ldf = spark.createDataFrame(left or [(None, None, None)], "ts long, seq long, a double")
    rdf = spark.createDataFrame(right or [(None, None, None)], "ts long, seq long, b double")
    if not left:
        ldf = ldf.where("ts IS NOT NULL")
    if not right:
        rdf = rdf.where("ts IS NOT NULL")
    a = Stream(ldf, ts="ts", seq="seq")
    b = Stream(rdf, ts="ts", seq="seq")
    got = sorted(
        (r.ts, r.a, r.b)
        for r in a.combine_latest(b).df.collect()
    )
    assert got == model_combine_latest(left, right)


def test_delay_with_reset_strategies_agree(spark, sf_dir, delay_with_reset_walk):
    """The relational (window-logic) batch plan of delay_with_reset and
    the streamed op's timer walk (pending queue, run per key over the
    whole history) are two physical forms of one semantics."""
    import pyspark.sql.functions as F

    from wingfoil_spark.operators.stateful import delay_with_reset
    from wingfoil_spark.sources.tables import load_table, ts_us_expr
    from wingfoil_spark.stream import Stream

    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        ts_us_expr(ev).alias("ts_us"), "event_id", "user_id",
        "event_type", "value",
    )
    s = Stream(df, ts="ts_us", seq="event_id", keys=("user_id",))
    purchases = Stream(
        s.df.where(F.col("event_type") == "purchase")
        .select("ts_us", "event_id", "user_id", F.col("value").alias("pv")),
        ts="ts_us", seq="event_id", keys=("user_id",),
    )
    errors = Stream(
        s.df.where(F.col("event_type") == "error")
        .select("ts_us", "event_id", "user_id"),
        ts="ts_us", seq="event_id", keys=("user_id",),
    )
    key = ["user_id", "ts_us", "pv"]
    a = (delay_with_reset(purchases, 7200_000_000, errors, ["pv"])
         .df.toPandas().sort_values(key).reset_index(drop=True))
    b = (delay_with_reset_walk(purchases.df.toPandas(), errors.df.toPandas(),
                               7200_000_000, "ts_us", "event_id",
                               ["user_id"], ["pv"])
         .sort_values(key).reset_index(drop=True))
    assert len(a) == len(b) > 0
    assert a[key].equals(b[key])


# ------------------------------------------------------------ lloyd fit
# The graded k-means tier's cross-engine contract, adversarially probed:
# random small corpora on an exact DYADIC grid (multiples of 0.25, |x|<=2
# — every dot product, quantized sum and mean is exactly representable,
# so numpy and DuckDB agree EXACTLY even on ties), including duplicate
# vectors (exact sim ties -> cid tie-break), zero vectors (norm-filtered
# by both sides) and empty clusters (COALESCE keeps the init centroid).
# The ULP behavior on real data is pinned separately by the 3-SF replay
# test; this one hunts LOGIC divergence (assignment, ties, quantized
# means, iteration wiring) that a fixed corpus can miss.

GRID = [x * 0.25 for x in range(-8, 9)]


@settings(max_examples=20, deadline=None)
@given(
    st.integers(2, 4),                      # n_centroids
    st.integers(1, 3),                      # iters
    st.integers(3, 6),                      # dim
    st.data(),
)
def test_lloyd_fit_numpy_matches_sql_on_dyadic_grid(k, iters, dim, data):
    import duckdb
    import numpy as np
    import pandas as pd

    import __spark_entry__ as entry
    from wingfoil_spark.functions.similarity import _lloyd_fit_np

    n = data.draw(st.integers(k + 1, 20))
    rows = data.draw(
        st.lists(
            st.lists(st.sampled_from(GRID), min_size=dim, max_size=dim),
            min_size=n, max_size=n,
        )
    )
    X_all = np.asarray(rows, dtype=np.float64)
    nrm = np.sqrt((X_all * X_all).sum(axis=1))
    X = X_all[nrm > 0]
    if len(X) < k:
        return  # not enough nonzero vectors — the fit rejects; nothing to compare
    want = _lloyd_fit_np(X, k, iters)

    con = duckdb.connect()
    pdf = pd.DataFrame({
        "vec_id": np.arange(len(rows), dtype=np.int64),
        "embedding": [list(map(float, r)) for r in rows],
    })
    con.register("raw", pdf)
    sql = (
        "WITH aev AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM raw),\n"
        + entry._lloyd_sql_ctes(k, iters, 512, dim)
        + "\nSELECT cid, cvec FROM llcf ORDER BY cid"
    )
    got = np.array([r[1] for r in con.execute(sql).fetchall()])
    assert got.shape == want.shape
    assert np.array_equal(got, want), (
        f"k={k} iters={iters} dim={dim}\nnumpy:\n{want}\nsql:\n{got}"
    )
