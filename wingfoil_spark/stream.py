"""The Stream abstraction: a time-ordered, optionally keyed dataflow node.

Reference model (wingfoil-io/wingfoil, studied at /root/reference):
``Stream<T>`` (crates/wingfoil/src/fluent.rs:628-772) is a handle to one DAG
node holding a current value + a per-cycle ticked flag; combinators
(``StreamOps``, fluent.rs:778+) wire new nodes. Here a Stream wraps a
DataFrame whose rows are the *ticks* of the node: one row = one (ts, value)
emission. The DataFrame lineage DAG plays the role of the wired graph, and
Catalyst's whole-stage codegen plays the role of the ``nitro!`` compiled tier
(crates/wingfoil-derive/src/lib.rs:36-52) — we never hand-schedule.

Determinism contract (the reference's HistoricalFrom replay,
crates/wingfoil/src/runtime/run.rs:16-29): every order-sensitive operator
orders by ``(ts, seq)`` within a key, so results are a pure function of the
input rowset. Timestamps are int64 in a CALLER-DEFINED unit — the reference
uses nanoseconds throughout (``NanoTime``, crates/wingfoil/src/runtime/
time.rs:38-68) and so do ``ticker``/``constant``, but ``events_stream``
emits microseconds (to match DuckDB's ``epoch_us`` bit-for-bit). Durations
passed to operators (delay_ns, interval_ns, window_ns, …) are interpreted
in the stream's own ts unit; never mix streams with different units.

Scale posture: a *keyed* stream windows per key → embarrassingly parallel
across a cluster. A keyless stream is a single total order (one Spark
partition for window ops) — exactly as sequential as the reference's
single-threaded graph; use keys for anything big.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Aggregates usable in fold()/scan() running-window form, all JVM-side.
_FOLD_FNS = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "avg": F.avg,
    "mean": F.avg,
    "count": F.count,
    "product": lambda c: F.exp(F.sum(F.log(c))),  # positive-only
}


class Stream:
    """A DataFrame plus stream metadata: event-time column, tie-break
    sequence column, and partition keys."""

    def __init__(
        self,
        df: DataFrame,
        ts: str = "ts",
        seq: str | None = None,
        keys: Sequence[str] = (),
    ):
        self.df = df
        self.ts = ts
        self.seq = seq
        self.keys = tuple(keys)
        #: optional seed frame for PASSIVE reads: rows visible to
        #: _combine's latch fill without ever counting as ticks. The
        #: reference seeds specific node slots at wiring/first-arrival so
        #: passive readers observe a value before the node's first tick
        #: (delay seeds its first upstream value, fold seeds its init —
        #: tests/parity_bugs.rs:17-63,396-489). Derived streams drop it:
        #: the seed is a property of THIS node's output slot, not of
        #: downstream transformations.
        self._passive_seed: DataFrame | None = None

    # ------------------------------------------------------------------ infra

    def _derive(self, df: DataFrame, ts: str | None = None, seq: str | int | None = 0,
                keys: Sequence[str] | None = None) -> "Stream":
        """New Stream with same metadata unless overridden (seq=0 sentinel =
        keep current)."""
        return Stream(
            df,
            ts=ts or self.ts,
            seq=self.seq if seq == 0 else seq,
            keys=self.keys if keys is None else tuple(keys),
        )

    def _order_cols(self) -> list[Column]:
        cols = [F.col(self.ts).asc()]
        if self.seq:
            cols.append(F.col(self.seq).asc())
        return cols

    def w_rows(self, start, end=0):
        """Row-count window frame ordered by (ts, seq), partitioned by keys."""
        w = Window.partitionBy(*self.keys) if self.keys else Window.partitionBy()
        return w.orderBy(*self._order_cols()).rowsBetween(start, end)

    def w_range(self, start_ns: int, end_ns: int = 0):
        """Time-range window frame (int64-ns ordering). Same-instant rows are
        always in-frame together — the reference's burst atomicity
        (crates/wingfoil/src/runtime/burst.rs:16)."""
        w = Window.partitionBy(*self.keys) if self.keys else Window.partitionBy()
        return w.orderBy(F.col(self.ts).asc()).rangeBetween(start_ns, end_ns)

    def w_cum(self):
        return self.w_rows(Window.unboundedPreceding, 0)

    def grouped(self):
        """groupBy over the stream's keys (lit grouping when keyless, so
        pandas-stateful ops still work — on one task, like the reference's
        single graph thread)."""
        return self.df.groupBy(*self.keys) if self.keys else self.df.groupBy(F.lit(1).alias("__g"))

    def to_df(self) -> DataFrame:
        return self.df

    # ------------------------------------------------------- core combinators

    def map(self, fn: Callable | None = None, dtype: str = "double",
            col: str | None = None, **cols: Column) -> "Stream":
        """Per-value transformation. Reference: ``map`` (fluent.rs:780, op at
        ops.rs:113-135).

        Two forms. ``map(**cols)`` with Column expressions is the FAST
        path — whole-stage codegen, zero Python. ``map(fn)`` with a
        Python callable is the binding's lambda idiom
        (wingfoil-python: ``stream.map(lambda n: ...)``): ``fn`` applies
        per value to the stream's single value column (or ``col=``),
        replacing it, Arrow-batched through a pandas UDF with result type
        ``dtype`` (default double — pass ``dtype="string"`` etc. for
        other returns; Python has no static return type to read). An
        exception in ``fn`` aborts the run — the binding's
        map-callable-raises contract (tests/test_interop.py:109-113)."""
        if fn is not None:
            if not callable(fn):
                raise TypeError(
                    "map() positional argument must be a callable; use "
                    "keyword Column expressions for the codegen path"
                )
            vc = col or self._single_value_col()

            @F.pandas_udf(dtype)
            def _apply(ser):
                return ser.map(fn)

            out = self.map(**{vc: _apply(F.col(vc)), **cols})
            return out
        return self._derive(self.df.withColumns(dict(cols)))

    def select_cols(self, *cols: str) -> "Stream":
        """Project payload columns, always retaining stream metadata cols."""
        meta = [c for c in (self.ts, self.seq, *self.keys) if c]
        keep = list(dict.fromkeys([*meta, *cols]))
        return self._derive(self.df.select(*keep))

    def try_map(
        self,
        fn: Callable,
        out: str = "mapped",
        dtype=None,
        cols: list[str] | None = None,
        on_error: str = "route",
    ) -> tuple["Stream", "Stream"]:
        """Fallible map with an error side-channel: ``fn(row: dict) -> value``
        per tick; rows where ``fn`` raises are routed to the returned error
        stream (with an ``error`` column) instead of failing the task.
        Returns ``(ok_stream, err_stream)``.

        Reference: the ``try_map`` / try-twin family (fluent.rs:787,
        873-896). The reference's contract is ABORT-on-error — a failing
        cycle stops the run with node context (tests/fallibility.rs:19-57);
        ``on_error="abort"`` reproduces it: the first failing row raises at
        materialization, the error naming the node (``TryMap``) and
        chaining the op's own message, exactly the two things
        fallibility.rs asserts. The default ``"route"`` is the deliberate
        scale-friendly extension: at 100 TB you quarantine bad rows and
        keep the job alive, so Err feeds a side stream instead.

        One Arrow-batched stage computes value+error; the two returned
        streams are filters over it (cache the input upstream if both sides
        are consumed by separate actions)."""
        from pyspark.sql import types as T

        use = cols or [c for c in self.df.columns if c not in (self.ts, self.seq, *self.keys)]
        dt = dtype or T.DoubleType()
        schema = T.StructType(
            list(self.df.schema.fields)
            + [T.StructField(out, dt), T.StructField("error", T.StringType())]
        )

        abort = on_error == "abort"
        if not abort and on_error != "route":
            raise ValueError(f"on_error must be 'route' or 'abort', got {on_error!r}")

        def run(batches):
            for pdf in batches:
                vals, errs = [], []
                for row in pdf[use].to_dict("records"):
                    try:
                        vals.append(fn(row))
                        errs.append(None)
                    except Exception as e:
                        if abort:  # fallibility.rs:19-57 — node context + cause
                            raise RuntimeError(
                                f"TryMap node aborted the run: {type(e).__name__}: {e}"
                            ) from e
                        vals.append(None)  # routed, not raised
                        errs.append(f"{type(e).__name__}: {e}")
                pdf[out] = vals
                pdf["error"] = errs
                yield pdf

        mapped = self.df.mapInPandas(run, schema=schema)
        ok = Stream(
            mapped.where(F.col("error").isNull()).drop("error"),
            self.ts, self.seq, self.keys,
        )
        err = Stream(
            mapped.where(F.col("error").isNotNull()).drop(out),
            self.ts, self.seq, self.keys,
        )
        return ok, err

    def try_filter(self, fn: Callable) -> tuple["Stream", "Stream"]:
        """Fallible predicate (try twin of ``filter_value``, fluent.rs:873):
        rows where ``fn`` raises go to the error stream; surviving rows are
        those where it returns truthy. Returns ``(kept, err)``."""
        from pyspark.sql import types as T

        ok, err = self.try_map(fn, out="__keep", dtype=T.BooleanType())
        kept = Stream(
            ok.df.where(F.col("__keep")).drop("__keep"),
            self.ts, self.seq, self.keys,
        )
        return kept, err

    def try_fold(
        self, fn: Callable, init, out: str = "acc", dtype=None,
        cols: list[str] | None = None,
    ) -> tuple["Stream", "Stream"]:
        """Fallible fold/scan (try twin of ``fold``, fluent.rs:887): per-key
        running accumulator ``acc' = fn(acc, row)``; a row whose step raises
        is routed to the error stream and the accumulator is left unchanged
        (the reference's Err-skip contract — the graph keeps running).
        Returns ``(ok_with_acc, err)``. Both run modes bind
        ``twins.try_fold_step`` through KeyedStateOp."""
        from pyspark.sql import types as T

        from wingfoil_spark.operators.stateful import _run_keyed
        from wingfoil_spark.streaming.twins import try_fold_step

        use = cols or [c for c in self.df.columns if c not in (self.ts, self.seq, *self.keys)]
        step = try_fold_step(fn, init, use, out, list(self.keys))
        folded = _run_keyed(self, step, T.StructType(
            list(self.df.schema.fields)
            + [T.StructField(out, dtype or T.DoubleType()),
               T.StructField("error", T.StringType())]
        )).df
        ok = Stream(
            folded.where(F.col("error").isNull()).drop("error"),
            self.ts, self.seq, self.keys,
        )
        err = Stream(
            folded.where(F.col("error").isNotNull()).drop(out),
            self.ts, self.seq, self.keys,
        )
        return ok, err

    def filter_value(self, cond, col: str | None = None) -> "Stream":
        """Predicate on own value. Reference: ``filter_value``
        (fluent.rs:924, ops.rs:2716-2747). ``cond`` is a boolean Column
        (the codegen path) or — the binding's lambda idiom — a Python
        callable applied per value to the single value column (or
        ``col=``), Arrow-batched like :meth:`map`."""
        if callable(cond) and not isinstance(cond, Column):
            fn = cond
            vc = col or self._single_value_col()

            @F.pandas_udf("boolean")
            def _pred(ser):
                return ser.map(lambda v: bool(fn(v)))

            return self._derive(self.df.where(_pred(F.col(vc))))
        return self._derive(self.df.where(cond))

    def filter_none(self, col: str) -> "Stream":
        """Drop nulls. Reference: ``filter_none`` (fluent.rs:1403)."""
        return self._derive(self.df.where(F.col(col).isNotNull()))

    def not_(self, col: str, out: str | None = None) -> "Stream":
        """Negation, generic like the reference's ``std::ops::Not`` bound
        (fluent.rs:1033; catalog_not_collapse.rs:54-61): logical NOT on
        booleans, bitwise NOT on integer columns."""
        dt = self.df.schema[col].dataType.typeName()
        expr = F.bitwise_not(F.col(col)) if dt in (
            "byte", "short", "integer", "long") else ~F.col(col)
        return self.map(**{out or col: expr})

    def with_time(self, out: str = "time") -> "Stream":
        """Pair value with engine time. Reference: ``with_time``
        (fluent.rs:799)."""
        return self.map(**{out: F.col(self.ts)})

    def ticked_at_elapsed(self, out: str = "elapsed") -> "Stream":
        """Elapsed ts-units since first tick (per key). Reference:
        ``ticked_at_elapsed`` (fluent.rs:809)."""
        return self.map(**{out: F.col(self.ts) - F.first(self.ts).over(self.w_cum())})

    def count(self, out: str = "n") -> "Stream":
        """Running tick count. Reference: ``count`` (fluent.rs:1369,
        ops.rs:2819-2842)."""
        w = Window.partitionBy(*self.keys) if self.keys else Window.partitionBy()
        return self.map(**{out: F.row_number().over(w.orderBy(*self._order_cols()))})

    def fold(self, col: Column | str, fn: str = "sum", out: str = "acc",
             init=None) -> "Stream":
        """Running accumulator, emitting after each fold — Rx ``scan``.
        Reference: ``fold``/``scan`` (fluent.rs:816-841, ops.rs:2748-2818).
        Arbitrary closures go through :meth:`scan_pandas`; named builtins
        stay JVM-side.

        ``init``: non-default accumulator seed (additive — ``sum`` only;
        arbitrary (init, closure) folds use ``fold_pandas``). The seed is
        also visible to PASSIVE readers before the fold's first tick —
        the interpreted engine seeds the fold's value slot with
        ``init.clone()``, pinned by parity_bugs.rs BUG 1 (:17-63)."""
        c = F.col(col) if isinstance(col, str) else col
        expr = _FOLD_FNS[fn](c).over(self.w_cum())
        if init is None:
            return self.map(**{out: expr})
        if fn != "sum":
            raise ValueError("fold(init=...) supports fn='sum'; use fold_pandas "
                             "for arbitrary (init, closure) folds")
        res = self.map(**{out: expr + F.lit(init)})
        res._passive_seed = _wiring_seed(self, {out: init})
        return res

    scan = fold

    def accumulate(self, col: str, out: str = "values", sep: str = ",") -> "Stream":
        """Collect all values so far into an ordered list (serialized as a
        string for deterministic cross-engine comparison). Reference:
        ``accumulate`` (fluent.rs:842, ops.rs:2843-2866)."""
        arr = F.collect_list(col).over(self.w_cum())
        return self.map(**{out: F.concat_ws(sep, arr.cast("array<string>"))})

    def difference(self, col: str, out: str = "diff") -> "Stream":
        """Successive difference ``v - prev``; first tick is quiet (dropped).
        Reference: ``difference`` (fluent.rs:1028, ops.rs:263-303)."""
        prev = F.lag(col).over(self._w_plain())
        df = self.df.withColumn(out, F.col(col) - prev).where(F.col(out).isNotNull())
        return self._derive(df)

    def _w_plain(self):
        w = Window.partitionBy(*self.keys) if self.keys else Window.partitionBy()
        return w.orderBy(*self._order_cols())

    def distinct_until_changed(self, *cols: str) -> "Stream":
        """Suppress *consecutive* duplicates — emit on change only (NOT SQL
        DISTINCT). Reference: ``distinct`` (fluent.rs:1014, ops.rs:187-226)."""
        w = self._w_plain()
        changed = F.lit(False)
        for c in cols:
            prev = F.lag(c).over(w)
            changed = changed | prev.isNull() | (prev != F.col(c))
        return self._derive(self.df.withColumn("__chg", changed).where("__chg").drop("__chg"))

    def limit_ticks(self, n: int) -> "Stream":
        """First ``n`` ticks (per key) then quiet. Reference: ``limit``
        (fluent.rs:977, ops.rs:357-380)."""
        w = Window.partitionBy(*self.keys) if self.keys else Window.partitionBy()
        df = (
            self.df.withColumn("__rn", F.row_number().over(w.orderBy(*self._order_cols())))
            .where(F.col("__rn") <= n)
            .drop("__rn")
        )
        return self._derive(df)

    def collapse(self, arr_col: str | None = None, out: str = "last") -> "Stream":
        """Last item of an iterable value; quiet when empty. Reference:
        ``collapse`` (fluent.rs:1068, ops.rs:328-356).

        ``arr_col=None`` collapses a BURST instead (requires ``seq``): the
        reference op is generic over ``IntoIterator``, and a ``Burst``
        payload — same-instant rows in our row encoding — collapses to the
        instant's last value (catalog_not_collapse.rs:136-150)."""
        if arr_col is None:
            if self.seq is None:
                raise ValueError("burst collapse requires a seq column "
                                 "(same-instant rows carry tick order)")
            w = Window.partitionBy(*self.keys, self.ts).orderBy(F.col(self.seq).desc())
            df = (
                self.df.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
            return self._derive(df, seq=None)
        df = (
            self.df.withColumn(out, F.try_element_at(F.col(arr_col), F.lit(-1)))
            .where(F.size(arr_col) > 0)
        )
        return self._derive(df)

    def explode_each(self, arr_col: str, out: str = "item") -> "Stream":
        """Burst-flatten an iterable into per-item ticks (reference
        ``collapse_accumulate`` pre-step / ``demux_it`` routing input,
        interp.rs:4182)."""
        df = self.df.select("*", F.posexplode(arr_col).alias("__pos", out))
        seq = "__pos" if self.seq is None else self.seq
        return Stream(df, ts=self.ts, seq=seq, keys=self.keys)

    # ------------------------------------------------------------ time ops

    def delay(self, delay_ns: int) -> "Stream":
        """Re-emit each value ``delay_ns`` later. The reference's TimeQueue
        collapses identical (value, time) schedules (delay op ops.rs:3090-3155,
        time_queue.rs:136). When the stream carries a ``seq`` column every
        row is already a distinct schedule (seq is in the row), so the dedup
        is skipped entirely — delay is then a pure projection, ZERO exchange
        (plan-gated by test_plan_quality). Without seq, dedup runs on the
        explicit (keys, ts, value) schedule identity so the shuffle key is
        visible in the plan rather than an implicit all-columns hash."""
        df = self.df.withColumn(self.ts, F.col(self.ts) + F.lit(delay_ns))
        if self.seq is None:
            value_cols = [c for c in df.columns if c not in (self.ts, *self.keys)]
            df = df.dropDuplicates([*self.keys, self.ts, *value_cols])
        out = self._derive(df)
        # Seed the output slot with the FIRST upstream value at its
        # original time, without ticking: passive readers (join_passive /
        # sample latches) observe it while the delay is still pending —
        # legacy-pinned behavior (parity_bugs.rs BUG 3 :396-489,
        # delay_initializes_to_first_value). Lazy DataFrame: costs one tiny
        # per-key window pass only when a passive combine consumes it.
        # BATCH surface only: the streaming timer twin latches from first
        # ARRIVAL (the seed would require cross-stream state injection at
        # query start, which Structured Streaming has no hook for).
        vcols = [c for c in self.df.columns if c not in (self.ts, self.seq, *self.keys)]
        wf_ = Window.partitionBy(*self.keys).orderBy(*self._order_cols()) if self.keys \
            else Window.partitionBy().orderBy(*self._order_cols())
        first = (
            self.df.withColumn("__rn", F.row_number().over(wf_))
            .where(F.col("__rn") == 1)
            .select(*self.keys, self.ts, *vcols)
        )
        out._passive_seed = first
        return out

    def throttle(self, interval_ns: int, origin_ns: int = 0) -> "Stream":
        """≤1 emission per interval: first tick in each tumbling bucket wins.
        Reference ``throttle`` (fluent.rs:982, ops.rs:381-414) measures the
        interval from the last *emission* (timer-based); the bucketed form
        here is its deterministic, shuffle-friendly batch analog — the
        timer-accurate variant is :func:`wingfoil_spark.operators.stateful.
        throttle_exact`."""
        # integer division: exact for int64 timestamps (float division would
        # lose precision above 2^53 ns)
        bucket = F.call_function(
            "div", F.col(self.ts) - F.lit(int(origin_ns)), F.lit(int(interval_ns))
        )
        w = Window.partitionBy(*(list(self.keys) + ["__b"])).orderBy(*self._order_cols())
        df = (
            self.df.withColumn("__b", bucket)
            .withColumn("__rn", F.row_number().over(w))
            .where("__rn = 1")
            .drop("__b", "__rn")
        )
        return self._derive(df)

    def tumbling(self, interval_ns: int, aggs: dict[str, Column], origin_ns: int = 0) -> "Stream":
        """Buffer and flush per time interval. Reference: ``window``
        (fluent.rs:988, ops.rs:583-658) — flush carries the interval-end
        timestamp. One shuffle on (keys, bucket); partial aggregation is
        map-side."""
        bucket = F.call_function(
            "div", F.col(self.ts) - F.lit(int(origin_ns)), F.lit(int(interval_ns))
        )
        df = (
            self.df.withColumn("__b", bucket)
            .groupBy(*self.keys, "__b")
            .agg(*[v.alias(k) for k, v in aggs.items()])
            .withColumn(self.ts, (F.col("__b") + 1) * F.lit(interval_ns) + F.lit(origin_ns))
            .drop("__b")
        )
        return Stream(df, ts=self.ts, seq=None, keys=self.keys)

    def buffer(self, capacity: int, aggs: dict[str, Column]) -> "Stream":
        """Flush every ``capacity`` values — a count window. Reference:
        ``buffer`` (fluent.rs:994, ops.rs:659-686). Emission stamped at the
        last element's ts."""
        w = Window.partitionBy(*self.keys) if self.keys else Window.partitionBy()
        grp = F.floor((F.row_number().over(w.orderBy(*self._order_cols())) - 1) / capacity)
        df = (
            self.df.withColumn("__g", grp)
            .groupBy(*self.keys, "__g")
            .agg(F.max(self.ts).alias(self.ts), *[v.alias(k) for k, v in aggs.items()])
            .drop("__g")
        )
        return Stream(df, ts=self.ts, seq=None, keys=self.keys)

    # ------------------------------------------------- merge / combine-latest

    def merge(self, *others: "Stream", src_col: str | None = None) -> "Stream":
        """Time-ordered n-ary union; same-instant tie → earliest-supplied
        stream wins (ONE emission per instant per key). Reference: ``merge``
        / ``merge_all`` (fluent.rs:935-950, ops.rs:3156-3329); tie-break
        semantics pinned by tests/merge_tiebreak.rs. Catalyst flattens the
        union chain (CombineUnions), mirroring the reference's hand-wired
        n-ary MergeN rewrite."""
        tagged = [self.df.withColumn("__pri", F.lit(0))]
        for i, o in enumerate(others, start=1):
            tagged.append(o.df.withColumn("__pri", F.lit(i)))
        u = tagged[0]
        for t in tagged[1:]:
            u = u.unionByName(t, allowMissingColumns=True)
        order = [F.col("__pri").asc()] + ([F.col(self.seq).asc()] if self.seq else [])
        w = Window.partitionBy(*self.keys, self.ts).orderBy(*order)
        df = u.withColumn("__rn", F.row_number().over(w)).where("__rn = 1").drop("__rn", "__pri")
        return self._derive(df)

    def union_all(self, *others: "Stream") -> "Stream":
        """Plain time-ordered union, keeping every tick (the reference's
        ``combine`` gather, fluent.rs:198, without burst-packing)."""
        u = self.df
        for o in others:
            u = u.unionByName(o.df, allowMissingColumns=True)
        return self._derive(u)

    def combine_latest(self, other: "Stream", on_ts_tie: str = "both") -> "Stream":
        """The reference's 2-input ``join`` (fluent.rs:847, ops.rs:2983-3008):
        ticks when EITHER input ticks, emitting (latest left, latest right).
        NOT a relational join — implemented as union + last-ignorenulls
        running fill, one window pass, no shuffle beyond the key partition.

        Same-instant ticks on both sides produce ONE emission carrying both
        new values (one cycle = one output; burst atomicity)."""
        return _combine(self, other, emit="either")

    def join_passive(self, other: "Stream") -> "Stream":
        """Left triggers; right is read passively (stale latch, may be null
        until right's first tick). Reference: ``join_passive``
        (fluent.rs:856, ops.rs:3033-3063)."""
        return _combine(self, other, emit="left")

    def sample(self, trigger: "Stream", cols: Sequence[str] | None = None) -> "Stream":
        """Emit this stream's current value when ``trigger`` ticks; quiet
        until the first value exists. Reference: ``sample`` (fluent.rs:930,
        ops.rs:2867-2898, passive=[0])."""
        value_cols = cols or [
            c for c in self.df.columns if c not in (self.ts, self.seq, *self.keys)
        ]
        src = Stream(self.df, self.ts, self.seq, self.keys)
        src._passive_seed = self._passive_seed  # seeded slots stay readable
        s = _combine(trigger, src, emit="left")
        df = s.df
        for c in value_cols:
            df = df.where(F.col(c).isNotNull())
        return Stream(df, ts=s.ts, seq=s.seq, keys=s.keys)

    def filter_latch(self, cond: "Stream", cond_col: str, resample: bool = True) -> "Stream":
        """Gate on a boolean *stream* latch: source ticks pass while the
        latched condition is true; condition ticks (when true) re-emit the
        held source value. Reference: ``filter`` (fluent.rs:905,
        ops.rs:2671-2715)."""
        combined = _combine(self, cond, emit="either" if resample else "left")
        df = combined.df.where(F.col(cond_col))
        value_cols = [c for c in self.df.columns if c not in (self.ts, self.seq, *self.keys)]
        for c in value_cols:
            df = df.where(F.col(c).isNotNull())
        return Stream(df, combined.ts, combined.seq, combined.keys)

    def map_filter(self, cond: Column, **cols: Column) -> "Stream":
        """Map + emit-flag in one pass. Reference: ``map_filter``
        (fluent.rs:793, ops.rs:159-186)."""
        return self.map(**cols).filter_value(cond)

    def map_n(self, n: int, fn: Callable[["Stream"], "Stream"]) -> "Stream":
        """Chain the same transformation ``n`` times. Reference: ``map_n``
        (fluent.rs:958) — plan-building loop; Catalyst fuses the chain into
        one codegen stage (the reference's compiled-tier fusion)."""
        s = self
        for _ in range(n):
            s = fn(s)
        return s

    def fan(self, n: int, branch: Callable[["Stream", int], "Stream"]) -> "Stream":
        """``n`` parallel branches + single n-ary MERGE fan-in. Reference:
        ``fan`` (fluent.rs:971) — pinned equal to hand-written
        ``a.merge(b).merge(c)`` by tests/repetition.rs:31-49, so
        same-instant ticks collapse to ONE emission (earliest branch wins),
        not a union of all branches. Catalyst's CombineUnions flattens the
        chain like the reference's n-ary MergeN rewrite (ops.rs:3200). Use
        :meth:`union_all` over the branches for a keep-everything fan-in."""
        branches = [branch(self, i) for i in range(n)]
        return branches[0].merge(*branches[1:])

    def split(self, struct_col: str) -> tuple["Stream", "Stream"]:
        """A 2-field struct stream → two streams. Reference: ``split``
        (fluent.rs:1393)."""
        fields = self.df.schema[struct_col].dataType.names
        a, b = fields[0], fields[1]
        base = [c for c in self.df.columns if c != struct_col]
        left = self._derive(self.df.select(*base, F.col(f"{struct_col}.{a}").alias(a)))
        right = self._derive(self.df.select(*base, F.col(f"{struct_col}.{b}").alias(b)))
        return left, right

    def join3(self, b: "Stream", c: "Stream") -> "Stream":
        """3-input combine-latest: ticks when ANY of the three ticks,
        emitting the three latest latches. Reference: ``join3``
        (fluent.rs:863, ops.rs:687-717). One union + one window pass —
        the chain collapses because _combine's output is itself a stream."""
        return _combine(_combine(self, b, emit="either"), c, emit="either")

    def gather(self, *others: "Stream", value_col: str = "value",
               out: str = "burst") -> "Stream":
        """n-ary burst gather: all inputs that ticked at one instant are
        delivered together as ONE array per (key, ts), in SUPPLIED input
        order (then upstream seq within an input) — only the inputs that
        actually ticked appear (the tick mask). Reference: ``combine``
        (fluent.rs:198, CombineN ops.rs:3330+; supplied-order and tick-mask
        semantics pinned by tests/combine_n.rs:96-146) and burst atomicity
        (runtime/burst.rs:16): same-instant values are never coalesced or
        dropped."""
        def tagged(s: "Stream", pri: int):
            seq = (F.col(s.seq) if s.seq else F.lit(0)).cast("long")
            return s.df.select(
                *s.keys, F.col(s.ts).alias(self.ts),
                F.struct(
                    F.lit(pri).alias("pri"), seq.alias("seq"),
                    F.col(value_col).alias("v"),
                ).alias("__item"),
            )

        u = tagged(self, 0)
        for i, o in enumerate(others, start=1):
            u = u.unionByName(tagged(o, i))
        # sort_array on (pri, seq, v) structs = supplied order, then seq
        df = (
            u.groupBy(*self.keys, self.ts)
            .agg(
                F.transform(
                    F.sort_array(F.collect_list("__item")), lambda x: x["v"]
                ).alias(out)
            )
        )
        return Stream(df, ts=self.ts, seq=None, keys=self.keys)

    def collapse_accumulate(self, arr_col: str, out: str = "values") -> "Stream":
        """Burst-flatten an iterable value and accumulate every item seen so
        far. Reference: ``collapse_accumulate`` (fluent.rs:1378)."""
        return self.explode_each(arr_col, out="__item").accumulate("__item", out=out)

    # ------------------------------------------------------- taps and sinks

    def inspect(self, fn: Callable) -> "Stream":
        """Side-effect tap, pass-through: ``fn(row)`` runs on the executors
        as rows flow. Reference: ``inspect`` (fluent.rs:1000, ops.rs:415-447
        — a lazy pass-through node, effects fire only when the graph runs).

        Lazy here too: the tap rides the plan as a mapInPandas pass-through
        stage, so NO job runs at wiring time and the effect fires exactly
        when a downstream action materializes this stream (and re-fires if
        the stage is recomputed — same as any executor-side effect)."""
        cols = list(self.df.columns)

        def tap(batches):
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    fn(row)
                yield pdf

        tapped = self.df.mapInPandas(tap, schema=self.df.schema)
        return Stream(tapped.select(*cols), self.ts, self.seq, self.keys)

    def print_ticks(self, n: int = 20) -> "Stream":
        """stdout tap. Reference: ``print`` (fluent.rs:1041, ops.rs:448-476);
        streaming twin is ``writeStream.format('console')``."""
        self.df.orderBy(*self.keys, *self._order_cols()).show(n, truncate=False)
        return self

    def for_each(self, fn: Callable) -> None:
        """Side-effecting terminal sink (fallible — exceptions fail the
        task, the reference's error-propagation contract for fallible sinks,
        ops.rs:2930-2954). Reference: ``for_each`` (fluent.rs:1076)."""
        self.df.foreach(fn)

    def for_each_batch(self, fn: Callable[[DataFrame], None]) -> None:
        """Partition/connection-oriented sink (``for_each_mut`` analog,
        fluent.rs:1088): fn receives the whole batch DataFrame — open the
        writer once per batch, as foreachBatch does in streaming."""
        fn(self.df)

    def last_values(self):
        """Final value per key (the reference's ``Runner::value`` read of a
        node's last slot, interp.rs:3196; also the ``finally`` hook's input,
        fluent.rs:1096)."""
        w = Window.partitionBy(*self.keys) if self.keys else Window.partitionBy()
        order = [F.col(self.ts).desc()] + ([F.col(self.seq).desc()] if self.seq else [])
        w = w.orderBy(*order)
        return (
            self.df.withColumn("__rn", F.row_number().over(w))
            .where("__rn = 1")
            .drop("__rn")
        )

    # ------------------------------------------------------------- keyed ops

    def demux(self, route_col: str) -> "Stream":
        """Route ticks into per-key sub-streams. Reference: ``demux``
        (interp.rs:4064-4133) routes to pre-wired children; in Spark the
        partition IS the child — downstream per-key operators parallelize
        across the cluster (no fixed capacity, no overflow child needed)."""
        return Stream(self.df, self.ts, self.seq, keys=(*self.keys, route_col))

    def demux_it(self, arr_col: str, route_col: str = "item") -> "Stream":
        """Route each item of an iterable to keyed children. Reference:
        ``demux_it`` (interp.rs:4182-4265)."""
        return self.explode_each(arr_col, out=route_col).demux(route_col)

    # ------------------------------------------------------------- stats API
    # (delegates to operators.stats; see that module for the full matrix)

    def stat(self, col: str, stat: str, frame, weighting: str = "tick",
             out: str | None = None) -> "Stream":
        from wingfoil_spark.operators.stats import window_stat
        return window_stat(self, col, stat, frame, weighting=weighting, out=out)

    def ewma(self, col: str, alpha: float | None = None,
             half_life_ns: int | None = None, out: str = "ewma") -> "Stream":
        from wingfoil_spark.operators.stateful import ewma
        return ewma(self, col, alpha=alpha, half_life_ns=half_life_ns, out=out)

    # Fluent delegations to the kernel/analysis operators — the reference
    # exposes these as stream methods (StreamOps / StatisticsOps /
    # MarketBookOps / the augurs adapter traits), so a switching user finds
    # the same call shapes here. Each delegates to the module operator that
    # owns the semantics.

    def drop_small_change(self, col: str, tol: float) -> "Stream":
        """Reference ``drop_small_change`` (fluent.rs:1022)."""
        from wingfoil_spark.operators.stateful import drop_small_change
        return drop_small_change(self, col, tol)

    def throttle_exact(self, interval_ns: int) -> "Stream":
        """Timer-accurate throttle (reference ``throttle``, fluent.rs:982);
        the bucketed batch analog is :meth:`throttle`."""
        from wingfoil_spark.operators.stateful import throttle_exact
        return throttle_exact(self, interval_ns)

    def delay_with_reset(self, delay_ns: int, trigger: "Stream",
                         value_cols: list[str] | None = None) -> "Stream":
        """Reference ``delay_with_reset`` (fluent.rs:1060)."""
        from wingfoil_spark.operators.stateful import delay_with_reset
        return delay_with_reset(self, delay_ns, trigger, value_cols=value_cols)

    def fold_pandas(self, fn: Callable, init, out: str = "acc",
                    cols: list[str] | None = None, dtype=None) -> "Stream":
        """Arbitrary-closure fold (reference ``fold``, fluent.rs:816)."""
        from pyspark.sql import types as T

        from wingfoil_spark.operators.stateful import fold_pandas
        return fold_pandas(self, fn, init, out, cols=cols,
                           dtype=dtype or T.DoubleType())

    def time_weighted_profile(self, col: str, window_ns: int) -> "Stream":
        """Fused time-weighted mean/var/median (stats.rs:154-185)."""
        from wingfoil_spark.operators.stateful import time_weighted_profile
        return time_weighted_profile(self, col, window_ns)

    def outlier(self, col: str, window_n: int = 21, thresh: float = 3.5,
                out: str = "outlier_score") -> "Stream":
        """Reference ``augurs_outlier`` (augurs.rs:636)."""
        from wingfoil_spark.operators.analysis import mad_outlier
        return mad_outlier(self, col, window_n=window_n, thresh=thresh, out=out)

    def changepoint(self, col: str, half_n: int = 10,
                    out: str = "shift_score") -> "Stream":
        """Reference ``augurs_changepoint`` (augurs.rs:768)."""
        from wingfoil_spark.operators.analysis import mean_shift_changepoint
        return mean_shift_changepoint(self, col, half_n=half_n, out=out)

    def forecast(self, col: str, window_n: int = 20, horizon: int = 1,
                 out: str = "forecast") -> "Stream":
        """Reference ``augurs_forecast`` (augurs.rs:441)."""
        from wingfoil_spark.operators.analysis import linear_forecast
        return linear_forecast(self, col, window_n=window_n,
                               horizon=horizon, out=out)

    def seasons(self, col: str, max_period: int | None = None):
        """Reference ``augurs_seasons`` (augurs.rs:893); returns a
        DataFrame (one row per key)."""
        from wingfoil_spark.operators.analysis import detect_seasons
        return detect_seasons(self, col, max_period=max_period)

    def dtw_distances(self, col: str, resample_to: int = 32):
        """Reference ``augurs_dtw`` (augurs.rs:1038); returns the pairwise
        distance DataFrame."""
        from wingfoil_spark.operators.analysis import dtw_distances
        return dtw_distances(self, col, resample_to=resample_to)

    def order_book(self) -> "Stream":
        """Fold a BookUpdate-shaped stream (kind/side/level/qty_delta) into
        per-instrument top-of-book (reference ``order_book``,
        market.rs:1227)."""
        from wingfoil_spark.operators.market import order_book
        return order_book(self)

    def book_feed(self) -> "Stream":
        """The full feed-handler book (market_adapter.rs:94-219) over a
        feed-update stream; one row per ticked instant."""
        from wingfoil_spark.operators.market import book_feed
        return book_feed(self)

    # ------------------------------------------------------------------ sinks

    def collect_ordered(self):
        """Driver-side materialization for tests/golden checks only."""
        return self.df.orderBy(*self.keys, *self._order_cols()).collect()

    def _single_value_col(self) -> str:
        cand = [c for c in self.df.columns
                if c not in (self.ts, self.seq, *self.keys)]
        if len(cand) != 1:
            raise ValueError(
                f"expected one value column, got {cand}; pass col= explicitly"
            )
        return cand[0]

    def collect(self, col: str | None = None) -> list:
        """``(time, value)`` tuples in replay order — the binding's
        ``stream.collect()`` (wingfoil-python stream.py; the legacy
        ``dataframe()`` accumulation shape, tests/test_pandas.py:10-13).
        Driver-side: tests/goldens and bounded reads only."""
        vc = col or self._single_value_col()
        return [
            (r[self.ts], r[vc])
            for r in self.df.orderBy(*self.keys, *self._order_cols())
            .select(self.ts, vc)
            .collect()
        ]

    def dataframe(self, col: str | None = None):
        """A pandas DataFrame of ``(time, value)`` in replay order — the
        binding's upgraded ``stream.dataframe()`` (engine-built frame,
        wingfoil-python tests/test_pandas.py:10-13). Multi-stream joins
        go through :func:`wingfoil_spark.frames.build_dataframe`, which
        accepts Streams directly."""
        vc = col or self._single_value_col()
        pdf = (
            self.df.orderBy(*self.keys, *self._order_cols())
            .select(*self.keys, F.col(self.ts).alias("time"),
                    F.col(vc).alias("value"))
            .toPandas()
        )
        return pdf


#: wiring-time seed instant: orders before any real tick (reference slots
#: are seeded at graph wiring, i.e. before the run clock starts)
WIRING_TS = -(1 << 62)


def _wiring_seed(s: Stream, values: dict) -> DataFrame:
    """One passive-seed row per key at :data:`WIRING_TS` carrying literal
    ``values`` — the batch analog of seeding a node's output slot at graph
    wiring time (parity_bugs.rs BUG 1)."""
    if s.keys:
        base = s.df.select(*s.keys).distinct()
    else:
        base = s.df.sparkSession.range(1).select()
    out = base.withColumn(s.ts, F.lit(WIRING_TS).cast("long"))
    for c, v in values.items():
        out = out.withColumn(c, v if isinstance(v, Column) else F.lit(v))
    return out


def _combine(left: Stream, right: Stream, emit: str = "either") -> Stream:
    """Shared combine-latest / as-of machinery (SURVEY §7 step 2).

    Union both tick-sets, then forward-fill every payload column with
    ``last(col, ignorenulls=True)`` over the (keys, ts, side, seq) order.
    Within one instant the RIGHT (passive) side is ordered first, so an
    active-side row observes a same-instant passive update — the reference's
    deterministic layer ordering (interp.rs:2455-2483) for upstream reads.

    ``emit='either'``: one output row per (key, ts) — the last row of the
    instant, carrying both latches (reference ``join`` cycle semantics).
    ``emit='left'``: only left-side ticks emit (reference ``join_passive`` /
    ``sample``).

    One shuffle (by keys) + one window pass; no relational join machinery.
    """
    if left.keys != right.keys:
        raise ValueError(f"combine requires equal keys: {left.keys} vs {right.keys}")
    ts, keys = left.ts, left.keys
    lmeta = {left.ts, left.seq, *left.keys} - {None}
    rmeta = {right.ts, right.seq, *right.keys} - {None}
    lvals = [c for c in left.df.columns if c not in lmeta]
    rvals = [c for c in right.df.columns if c not in rmeta]
    overlap = set(lvals) & set(rvals)
    if overlap:
        raise ValueError(f"combine value columns collide: {sorted(overlap)}")

    if left.df.isStreaming or right.df.isStreaming:
        # Structured Streaming rejects the window-function fill; rebind to
        # the KeyedStateOp twin — same semantics, pinned by
        # test_combine_latest_three_way_duality (r4: combine_latest /
        # join_passive / sample / filter_latch now work on readStream
        # frames the way Stream.stat already did)
        from wingfoil_spark.streaming.twins import combine_latest_op

        op, union = combine_latest_op(left, right, lvals, rvals, emit=emit)
        return Stream(op.run_stream(union), ts=ts, seq=None, keys=keys)

    ldf = left.df.withColumn("__side", F.lit(1))
    if right.ts != ts:
        rdf = right.df.withColumnRenamed(right.ts, ts)
    else:
        rdf = right.df
    rdf = rdf.withColumn("__side", F.lit(0))
    lseq = F.col(left.seq) if left.seq else F.lit(0)
    rseq = F.col(right.seq) if right.seq else F.lit(0)
    ldf = ldf.withColumn("__seq", lseq.cast("long"))
    rdf = rdf.withColumn("__seq", rseq.cast("long"))
    keep_l = [*keys, ts, "__side", "__seq", *lvals]
    keep_r = [*keys, ts, "__side", "__seq", *rvals]
    u = ldf.select(*keep_l).unionByName(rdf.select(*keep_r), allowMissingColumns=True)

    # Passive-seed rows (delay's first-value seed, fold's init seed —
    # parity_bugs.rs BUG 1/3): join the latch fill as side -1, ordered
    # before both real sides at their instant so a same-instant active row
    # observes them, but NEVER emitted as ticks (filtered below).
    seed = getattr(right, "_passive_seed", None)
    if seed is not None:
        sdf = seed
        if right.ts != ts and right.ts in sdf.columns:
            sdf = sdf.withColumnRenamed(right.ts, ts)
        sdf = sdf.withColumn("__side", F.lit(-1)).withColumn("__seq", F.lit(-1).cast("long"))
        u = u.unionByName(sdf, allowMissingColumns=True)

    base = Window.partitionBy(*keys) if keys else Window.partitionBy()
    w = base.orderBy(F.col(ts).asc(), F.col("__side").asc(), F.col("__seq").asc()) \
            .rowsBetween(Window.unboundedPreceding, 0)
    filled = u
    for c in lvals + rvals:
        filled = filled.withColumn(c, F.last(c, ignorenulls=True).over(w))

    if emit == "left":
        out = filled.where(F.col("__side") == 1).drop("__side", "__seq")
        return Stream(out, ts=ts, seq=None, keys=keys)
    # one emission per (keys, ts): the instant's final row carries both
    # latches. Seed rows (side -1) latch but never emit.
    w2 = Window.partitionBy(*keys, ts).orderBy(F.col("__side").desc(), F.col("__seq").desc())
    out = (
        filled.where(F.col("__side") >= 0)
        .withColumn("__rn", F.row_number().over(w2))
        .where("__rn = 1")
        .drop("__rn", "__side", "__seq")
    )
    return Stream(out, ts=ts, seq=None, keys=keys)
