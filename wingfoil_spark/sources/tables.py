"""Sources: historical (batch) readers and synthetic generators.

Reference source vocabulary (crates/wingfoil/src/fluent.rs:280-470):
``ticker`` / ``constant`` / ``replay_results`` / ``csv_read`` / channel
sources. Historical replay in the reference is source-driven event-time
with non-decreasing timestamps (adapters/csv.rs:110-115); here that maps to
reading time-stamped tables and ordering windows by ``(ts, seq)``.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wingfoil_spark.session import configure_session
from wingfoil_spark.stream import Stream

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table. Parquet scan → Catalyst gets predicate
    pushdown + column pruning for free; never collect here."""
    configure_session(spark)  # nanosAsLong for the events table
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def ts_us_expr(df: DataFrame, col: str = "ts"):
    """Event-time of ``col`` as exact long microseconds, robust to the
    physical type the data generator chose: parquet TIMESTAMP(MICROS) →
    ``unix_micros`` (the NTZ→TZ cast is value-preserving only under a UTC
    session tz, asserted below — ``configure_session`` sets it but swallows
    conf errors, and a silently non-UTC tz would shift ts_us away from
    DuckDB's ``epoch_us``); int64 nanos (read as long under
    ``nanosAsLong``) → integer ``div 1000``.

    Post-epoch assumption: ``div`` truncates toward zero while DuckDB's
    ``epoch_us`` floors, so the two agree only for ts ≥ 0 (all synthetic
    data is post-1970); pre-epoch nanos would need ``floor(ts / 1000)``."""
    dtype = dict(df.dtypes).get(col, "")
    if dtype.startswith("timestamp"):
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        assert tz == "UTC", (
            f"ts_us_expr needs session timeZone=UTC for the {dtype} cast "
            f"to match DuckDB epoch_us; got {tz!r}"
        )
        return F.unix_micros(F.col(col).cast("timestamp"))
    return F.call_function("div", F.col(col), F.lit(1000))


#: KDB epoch is 2000-01-01, Unix epoch is 1970-01-01 — the reference's
#: built-in conversion constant (runtime/time.rs:62-64).
KDB_EPOCH_OFFSET_NANOS = 946_684_800_000_000_000

_LONG_MAX = (1 << 63) - 1


def from_kdb_timestamp(col):
    """Engine nanos from a KDB timestamp column (nanoseconds since
    2000-01-01) — ``NanoTime::from_kdb_timestamp`` (runtime/time.rs:76-78).
    The MAX sentinel maps through unchanged in both directions (our
    ``RawTime`` is int64, so the reference's u64::MAX ↔ i64::MAX saturation
    collapses to one sentinel; without the guard ANSI mode would abort on
    the overflowing add)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c == _LONG_MAX, F.lit(_LONG_MAX)).otherwise(
        c + F.lit(KDB_EPOCH_OFFSET_NANOS)
    )


def to_kdb_timestamp(col):
    """KDB nanos (since 2000-01-01) from an engine-nanos column —
    ``NanoTime::to_kdb_timestamp`` (runtime/time.rs:80-87): the MAX
    sentinel is preserved, not offset."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c == _LONG_MAX, F.lit(_LONG_MAX)).otherwise(
        c - F.lit(KDB_EPOCH_OFFSET_NANOS)
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    keyed: bool = True,
) -> Stream:
    """The ``events`` table as a Stream: ts_us long-µs, seq = event_id.

    UNIT NOTE: this stream's timestamps are MICROseconds (chosen to match
    DuckDB's ``epoch_us`` exactly); :func:`ticker` / :func:`constant` emit
    NANOseconds (the reference's NanoTime). Durations passed to operators
    are interpreted in the stream's own ts unit — don't merge/combine
    µs-based and ns-based streams without converting one side.

    ``keyed=True`` partitions the stream per ``user_id`` — the scalable
    layout (per-key windows parallelize; a keyless stream is a single
    total order and therefore a single task, exactly like the reference's
    single-threaded graph).
    """
    df = load_table(spark, sf_dir, "events")
    df = df.withColumn("ts_us", ts_us_expr(df)).drop("ts")
    keys = ("user_id",) if keyed else ()
    return Stream(df, ts="ts_us", seq="event_id", keys=keys)


def replay_rows(
    spark: SparkSession,
    rows: Iterable[tuple],
    schema: str,
    ts: str = "ts",
    seq: str | None = None,
    keys: tuple[str, ...] = (),
) -> Stream:
    """Replay a literal rowset at given timestamps.

    Reference: ``replay_results`` (fluent.rs:252-275) — the unit-test
    source used by the golden replay tests (tests/catalog.rs).
    """
    df = spark.createDataFrame(list(rows), schema=schema)
    return Stream(df, ts=ts, seq=seq, keys=keys)


def ticker(
    spark: SparkSession,
    period_ns: int,
    n: int,
    start_ns: int = 0,
    streaming: bool = False,
) -> Stream:
    """Fires every ``period_ns`` of engine time (ts unit: NANOseconds —
    unlike :func:`events_stream`, whose ts_us is µs; see its unit note).

    Reference: ``ticker`` (fluent.rs:282, op at ops.rs:40-83). Historical
    mode = ``spark.range`` with derived event time. The FIRST tick fires AT
    the start time — the reference's ``start`` hook schedules
    ``ctx.start_time()`` itself (ops.rs:77-81), so a 5-cycle run of
    ``ticker(100ns)`` ticks at 0,100,...,400 (pinned by
    statistics_rolling.rs:198-209's tick-time golden; the r2 ticker was off
    by one period). RealTime mode = the rate source.
    """
    if streaming:
        per_sec = max(1, int(1e9 / period_ns))
        df = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", per_sec)
            .load()
            .select(
                (F.unix_micros("timestamp") * 1000).alias("ts"),
                F.col("value").alias("seq"),
            )
        )
        return Stream(df, ts="ts", seq="seq")
    df = spark.range(1, n + 1).select(
        (F.lit(start_ns) + (F.col("id") - 1) * F.lit(period_ns)).alias("ts"),
        F.col("id").alias("seq"),
    )
    return Stream(df, ts="ts", seq="seq")


def constant(
    spark: SparkSession,
    value,
    schema: str = "value double",
    ts_ns: int = 0,
) -> Stream:
    """Ticks once with ``value`` at the first cycle. Reference: ``constant``
    (fluent.rs:285, op at ops.rs:84-112)."""
    df = spark.createDataFrame([(ts_ns, value)], schema=f"ts long, {schema}")
    return Stream(df, ts="ts")


def never(spark: SparkSession, schema: str = "value double") -> Stream:
    """Never ticks — the empty stream. Reference: ``never`` (fluent.rs:373,
    ops.rs:3465-3485)."""
    df = spark.createDataFrame([], schema=f"ts long, {schema}")
    return Stream(df, ts="ts")
