"""pandas-interop frame assembly: the Python binding's ``build_dataframe``.

Reference: ``wf.build_dataframe({name: stream})`` outer-joins named
streams on tick time into ONE frame — NaN where a stream was silent,
columns in dict insertion order after ``time``, streams that never ran
contribute no column, all-empty yields an empty frame, and a non-Stream
value is a clear error (wingfoil-python/tests/test_pandas.py:1-171, the
legacy ``test_pandas`` parity port). Spark-first mapping: the joined
"frame" is a DataFrame (distributed, keyed); ``.toPandas()`` is the
binding-surface read.

Semantics notes (pinned in tests/test_build_dataframe.py):
- join key is (keys..., ts): streams must agree on keys;
- a same-instant burst contributes its LAST row (by seq) — the slot value
  at that instant, the same read ``Runner::value`` performs;
- each stream contributes its single payload column (the one non-meta
  column); pass ``{"name": (stream, "col")}`` to pick one of several.

This is an assembly convenience for notebook/binding use — it runs one
small count per stream (the skip-empty contract) and N-1 outer joins;
at data scale prefer the operator tier (combine_latest/gather) which
never counts driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from wingfoil_spark.stream import Stream


def _payload_col(s: Stream, name: str) -> str:
    meta = {s.ts, s.seq, *s.keys} - {None}
    payload = [c for c in s.df.columns if c not in meta]
    if len(payload) != 1:
        raise ValueError(
            f"stream '{name}' has {len(payload)} payload columns "
            f"({payload}); pass (stream, col) to pick one"
        )
    return payload[0]


def build_dataframe(streams: dict, spark=None) -> DataFrame:
    """Outer-join named streams on (keys, ts) into one DataFrame.

    ``streams``: {name: Stream} or {name: (Stream, value_col)}. Returns a
    DataFrame with columns (keys..., ts, *names-in-insertion-order) —
    null where a stream was silent at that instant. Streams with no rows
    contribute no column (the reference's skip-empty contract); if every
    stream is empty (or none given) the result is an empty frame —
    ``spark`` is required only for that degenerate case when no stream
    can supply a session.
    """
    parts = []  # (name, projected_df, keys)
    session = spark
    for name, v in streams.items():
        if isinstance(v, tuple):
            s, col = v
        else:
            s, col = v, None
        if not isinstance(s, Stream):
            raise ValueError(f"'{name}' is not a wingfoil Stream")
        session = session or s.df.sparkSession
        col = col or _payload_col(s, name)
        proj = s.df.select(*s.keys, s.ts, F.col(col).alias(name),
                           *( [F.col(s.seq).alias("__seq")] if s.seq else [F.lit(0).alias("__seq")] ))
        # last row per instant = the slot value (burst-final read)
        w = Window.partitionBy(*s.keys, s.ts).orderBy(F.col("__seq").desc())
        proj = (
            proj.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn", "__seq")
        )
        if proj.isEmpty():
            continue  # never-ran stream: no column
        parts.append((name, proj, tuple(s.keys), s.ts))
    if not parts:
        if session is None:
            raise ValueError("no streams and no spark session for the empty frame")
        return session.createDataFrame([], "ts long")
    keys0, ts0 = parts[0][2], parts[0][3]
    for name, _, k, t in parts[1:]:
        if k != keys0:
            raise ValueError(f"stream '{name}' keys {k} != {keys0}")
    out = None
    for name, proj, _, t in parts:
        proj = proj.withColumnRenamed(t, "ts") if t != "ts" else proj
        out = proj if out is None else out.join(proj, [*keys0, "ts"], "full_outer")
    # column order: keys, ts, then dict insertion order
    return out.select(*keys0, "ts", *[n for n, *_ in parts]).orderBy(*keys0, "ts")
