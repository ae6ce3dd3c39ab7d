"""``CustomStream`` — the subclass form of a user-defined graph node.

Reference: the Python binding's pure-Python base class
(``wingfoil-python/python/wingfoil/stream.py:89-136``; contracts pinned by
``wingfoil-python/tests/test_custom_stream.py``): subclass it, implement
``cycle(self) -> bool``, construct it with the upstream streams, and the
CONSTRUCTOR RETURNS THE WIRED STREAM — not the node instance — so it
chains fluently. Inside ``cycle`` the node reads ``self.upstreams()``
(ordered as wired; an upstream that has not ticked reads ``None``) and
calls ``set_value`` before returning ``True``; returning ``False`` stays
quiet, leaving the previous value in place and not ticking downstream.

Spark-first re-expression: the upstream streams combine-latest into one
tick-ordered frame (the engine's cycle schedule), and the subclass's
``cycle`` runs per tick inside an Arrow-batched per-key pass — one FRESH
node instance per key (deep-copied from the constructed prototype), so
per-key state is exactly the reference's per-node state, parallel across
keys. A value seeded in ``__init__`` (before wiring) becomes the stream's
passive seed — readable by ``join_passive``/``sample`` latches before the
first tick, the binding's seed-before-wiring contract. The step-function
forms of the same capability are :class:`~wingfoil_spark.streaming.
stateful.KeyedStateOp` and ``register_op`` (operators/registry.py).
"""

from __future__ import annotations

import copy
from typing import Any, List, Sequence

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wingfoil_spark.stream import Stream, _combine, _wiring_seed


class UpstreamValue:
    """Read-only view of one upstream's current value
    (binding stream.py:44-66)."""

    __slots__ = ("_value",)

    def __init__(self, value: Any) -> None:
        self._value = value

    def peek_value(self) -> Any:
        """This upstream's current value (``None`` if it has not ticked)."""
        return self._value

    def __repr__(self) -> str:
        return f"UpstreamValue({self._value!r})"


class CustomStream:
    """Base class for a Python-defined graph node; see module docstring.

    Class attribute ``out_type`` (default ``"double"``) declares the
    emitted value's Spark type; ``out_col`` (default ``"value"``) its
    column name.
    """

    out_type: str = "double"
    out_col: str = "value"

    def __new__(cls, upstreams, *args: Any, **kwargs: Any):
        node = super().__new__(cls)
        # Seeded before the subclass's __init__ so it may already call
        # set_value() (binding stream.py:104-108).
        node._values = []
        node._value = None
        # __init__ is invoked manually: __new__ returns a Stream, not an
        # instance of cls, so Python won't call it — and the upstreams are
        # wiring, so only the remaining args are passed on
        # (binding stream.py:109-112).
        node.__init__(*args, **kwargs)
        if isinstance(upstreams, Stream):
            upstreams = [upstreams]
        return _wire_custom(node, list(upstreams))

    def __init__(self, *args: Any, **kwargs: Any) -> None:  # noqa: D401
        pass

    def __reduce__(self):
        # __new__ is hijacked to wire-and-return-a-Stream, so pickling /
        # deepcopy (both used to ship and clone the node prototype per
        # key) must bypass it and rebuild from the instance state.
        return (_rebuild_node, (type(self), self.__dict__.copy()))

    def upstreams(self) -> List[UpstreamValue]:
        """The upstreams' current values, in the order they were wired."""
        return [UpstreamValue(v) for v in self._values]

    def cycle(self) -> bool:
        """Advance the node; return whether it ticked this cycle."""
        raise NotImplementedError(
            f"{type(self).__name__} must implement cycle(self) -> bool"
        )

    def peek(self) -> Any:
        """The node's current value — read when ``cycle`` ticked."""
        return self._value

    def set_value(self, value: Any) -> None:
        """Set the value this node emits for the current cycle."""
        self._value = value


def _rebuild_node(cls, state):
    inst = object.__new__(cls)
    inst.__dict__.update(state)
    return inst


def _value_col(s: Stream) -> str:
    cand = [c for c in s.df.columns if c not in (s.ts, s.seq, *s.keys)]
    if len(cand) != 1:
        raise ValueError(
            f"CustomStream upstreams carry ONE value column each; got {cand}"
        )
    return cand[0]


def _wire_custom(node: CustomStream, upstreams: Sequence[Stream]) -> Stream:
    if not upstreams:
        raise ValueError("CustomStream needs at least one upstream")
    # User node classes live in scripts/notebooks/test files that Spark
    # workers cannot import — ship the defining module BY VALUE (the
    # binding never faces this: its engine is in-process). Library and
    # site-package classes keep the cheap by-reference pickling.
    import sys

    mod_name = type(node).__module__
    if not mod_name.startswith(("wingfoil_spark", "pyspark", "builtins")):
        mod = sys.modules.get(mod_name)
        if mod is not None:
            try:
                # Spark serializes closures with its VENDORED cloudpickle;
                # registering on the standalone package would be a no-op
                from pyspark import cloudpickle

                cloudpickle.register_pickle_by_value(mod)
            except Exception:  # pragma: no cover - best effort
                pass
    # tag each upstream's value column __u{i} (wired order), then
    # combine-latest them into the cycle schedule
    tagged = []
    for i, u in enumerate(upstreams):
        vc = _value_col(u)
        tagged.append(
            Stream(
                u.df.select(*u.keys, u.ts, *( [u.seq] if u.seq else [] ),
                            F.col(vc).alias(f"__u{i}")),
                u.ts, u.seq, u.keys,
            )
        )
    combined = tagged[0]
    for nxt in tagged[1:]:
        combined = _combine(combined, nxt, emit="either")

    s = combined
    keys, ts_col, seq = s.keys, s.ts, s.seq
    ucols = [f"__u{i}" for i in range(len(upstreams))]
    key_fields = [s.df.schema[k] for k in keys]
    out_schema = T.StructType(
        list(key_fields)
        + [s.df.schema[ts_col]]
        + ([s.df.schema[seq]] if seq else [])
        + [T.StructField(node.out_col, getattr(T, "_parse_datatype_string")(node.out_type))]
    )
    proto = node

    def step(_, pdf: pd.DataFrame):
        inst = copy.deepcopy(proto)  # fresh per-key node state
        out = []
        for d in pdf.to_dict("records"):
            inst._values = [
                None if pd.isna(d[c]) else d[c] for c in ucols
            ]
            if bool(inst.cycle()):
                out.append(
                    [d[k] for k in keys] + [d[ts_col]]
                    + ([d[seq]] if seq else []) + [inst.peek()]
                )
        return None, pd.DataFrame(out, columns=out_schema.names)

    from wingfoil_spark.operators.stateful import _apply_per_key_reshape
    from wingfoil_spark.streaming.stateful import lift

    out_df = _apply_per_key_reshape(s, lift(step, keys, None), out_schema)
    res = Stream(out_df, ts=ts_col, seq=seq, keys=keys)
    if proto._value is not None:
        # a value seeded in __init__ (before wiring) is readable by
        # passive latches before the first tick
        res._passive_seed = _wiring_seed(res, {node.out_col: proto._value})
    return res
