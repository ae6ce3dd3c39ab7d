"""Spans and counters recorded from outside the package.

``install`` wraps every public function and public method defined in the
package's modules, so each call opens a span tagged with its layer (the
top-level module name: ``session``, ``sources``, ``stream``, ``operators``,
``functions``, ``plans``, ``streaming``). The package binds names with
``from … import`` at import time, so ``install`` runs before
``__spark_entry__`` is imported and rebinds every module global that still
holds an original.

Each open span also tags the Spark jobs it starts: it sets the thread's
``spark.jobGroup.id`` to ``wfspan:<id>`` and restores the parent's group on
exit, so the event log attributes every side-job to the innermost span.

py4j commands are counted by a wrapper on ``ClientServerConnection.send_command``.
Memory-release (``m``) commands are counted apart: they follow Python's
garbage collector, so they do not repeat from run to run. Commands the
tracer itself sends are not counted.

Spans stay in memory and are written out by ``dump`` when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import json
import pkgutil
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

LAYERS = ("session", "sources", "stream", "operators", "functions", "plans", "streaming")
_MODULE_LAYER = {"frames": "stream", "custom": "stream"}


def layer_of(module: str, package: str = "wingfoil_spark") -> str | None:
    parts = module.split(".")
    if parts[0] != package or len(parts) < 2:
        return None
    layer = _MODULE_LAYER.get(parts[1], parts[1])
    return layer if layer in LAYERS else None


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    parent: int | None
    thread: int
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span: its duration minus the part of its interval
    covered by its children (the union, clipped to the parent)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_a, cur_b = 0.0, None, None
        for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    """Spans, per-layer py4j counts and the job-group tagging of one run;
    records only while ``enabled``."""

    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.py4j = defaultdict(int)       # layer (or "entry") -> commands
        self.py4j_gc = 0
        self.bookkeeping_s = 0.0
        self.sc = None                     # SparkContext once the session is up

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, layer: str, group: str | None = None, **attrs) -> Span:
        """Push a span. Module spans tag their jobs ``wfspan:<id>``; other
        spans tag theirs with ``group`` or inherit the parent's."""
        t0 = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else None
        sp = Span(next(self._ids), name, layer, 0.0, parent.id if parent else None,
                  threading.get_ident(), attrs=attrs)
        inherited = parent.attrs.get("group") if parent else None
        if layer in LAYERS:
            group = f"wfspan:{sp.id}"
        sp.attrs["group"] = group or inherited
        if sp.attrs["group"] != inherited:
            self._set_group(sp.attrs["group"])
        st.append(sp)
        with self._lock:
            self.spans.append(sp)
            self.bookkeeping_s += time.perf_counter() - t0
        sp.start = time.time()
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        t0 = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        inherited = st[-1].attrs.get("group") if st else None
        if sp.attrs.get("group") != inherited:
            self._set_group(inherited)
        with self._lock:
            self.bookkeeping_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str, layer: str, group: str | None = None, **attrs):
        """The benchmark's own spans (run, pass, query, build, write)."""
        sp = self.open(name, layer, group=group, **attrs)
        try:
            yield sp
        finally:
            self.close(sp)

    @contextlib.contextmanager
    def internal(self):
        """py4j commands the tracer sends on this thread are not counted."""
        self._local.internal = True
        try:
            yield
        finally:
            self._local.internal = False

    def _set_group(self, group: str | None) -> None:
        if self.sc is None:
            return
        with self.internal():
            # None clears the property (SparkContext.setLocalProperty semantics)
            self.sc._jsc.setLocalProperty("spark.jobGroup.id", group)

    # -- py4j --------------------------------------------------------------
    def count_command(self, command: str) -> None:
        """Attribute one py4j command to the innermost open span: a module
        span counts for its layer, the query's own build code for
        ``entry``; other threads and phases are not counted."""
        if not self.enabled or getattr(self._local, "internal", False):
            return
        if command.startswith("m\n"):
            self.py4j_gc += 1
            return
        st = self._stack()
        if st and st[-1].layer in LAYERS:
            self.py4j[st[-1].layer] += 1
        elif st and st[-1].layer == "build":
            self.py4j["entry"] += 1

    # -- output ------------------------------------------------------------
    def layer_totals(self) -> dict[str, dict[str, float]]:
        own = self_times(self.spans)
        out = {lay: {"calls": 0, "self_s": 0.0} for lay in LAYERS}
        for s in self.spans:
            if s.layer in out:
                out[s.layer]["calls"] += 1
                out[s.layer]["self_s"] += own[s.id]
        for lay in LAYERS:
            out[lay]["py4j_calls"] = self.py4j.get(lay, 0)
        return out

    def dump(self, path: str, extra: list[dict] = ()) -> None:
        rows = [{"id": s.id, "name": s.name, "layer": s.layer, "start": s.start,
                 "end": s.end, "parent": s.parent, "thread": s.thread,
                 **({"attrs": s.attrs} if s.attrs else {})} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": rows + list(extra)}, f)


def _wrap(fn, tracer: Tracer, layer: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        sp = tracer.open(fn.__qualname__, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            tracer.close(sp)

    return wrapper


def install(tracer: Tracer, package: str = "wingfoil_spark", skip: tuple[str, ...] = ()) -> int:
    """Wrap the package's public functions and methods, except in the
    modules named in ``skip``; returns how many functions were wrapped.
    Wrappers keep the original's module and qualname, and the defining
    module's global is rebound to the wrapper, so cloudpickle still pickles
    them by reference (Python workers import the unwrapped original)."""
    pkg = importlib.import_module(package)
    mods = [pkg] + [importlib.import_module(m.name)
                    for m in pkgutil.walk_packages(pkg.__path__, package + ".")]
    swap: dict[int, object] = {}
    for mod in mods:
        layer = layer_of(mod.__name__, package)
        if layer is None or mod.__name__ in skip:
            continue
        for name, obj in list(vars(mod).items()):
            if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                continue
            if inspect.isfunction(obj):
                swap[id(obj)] = _wrap(obj, tracer, layer)
            elif inspect.isclass(obj):
                for mname, m in list(vars(obj).items()):
                    if mname.startswith("_"):
                        continue
                    if isinstance(m, (staticmethod, classmethod)):
                        setattr(obj, mname, type(m)(_wrap(m.__func__, tracer, layer)))
                    elif inspect.isfunction(m):
                        setattr(obj, mname, _wrap(m, tracer, layer))
    for mod in mods:
        for name, obj in list(vars(mod).items()):
            w = swap.get(id(obj))
            if w is not None:
                setattr(mod, name, w)
    _hook_py4j(tracer)
    return len(swap)


def _hook_py4j(tracer: Tracer) -> None:
    from py4j import clientserver, java_gateway

    for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
        orig = cls.send_command

        def send_command(self, command, _orig=orig):
            tracer.count_command(command)
            return _orig(self, command)

        cls.send_command = send_command
