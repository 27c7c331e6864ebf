"""Spans around calls into the engine's layer modules, for the traced run only.

``install(recorder)`` replaces every public function of each layer module with
a wrapper that records a span (layer, wall-clock start and end, parent span on
the same thread), and rebinds the same function object wherever another engine
module imported it by name. A layer's self time is its spans' durations minus
the time covered by their child spans on the same thread.

The wrappers reach the recorder through module-level functions, not through a
closure: Spark pickles some engine functions to its Python workers, and a
wrapper pickled there must carry no lock or thread-local. On a worker no
recorder is active and the wrapper only calls through.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
import types
from dataclasses import dataclass, field
from datetime import datetime

#: layer name → engine module whose public functions form that layer
LAYER_MODULES = {
    "session": "yfinance_etl_spark.session",
    "cache": "yfinance_etl_spark.cache",
    "catalog": "yfinance_etl_spark.catalog",
    "operators.windows": "yfinance_etl_spark.operators.windows",
    "operators.metrics": "yfinance_etl_spark.operators.metrics",
    "operators.dedup": "yfinance_etl_spark.operators.dedup",
    "operators.pq": "yfinance_etl_spark.operators.pq",
    "operators.similarity": "yfinance_etl_spark.operators.similarity",
    "operators.clustering": "yfinance_etl_spark.operators.clustering",
    "streaming": "yfinance_etl_spark.streaming.streams",
    "sources.sink": "yfinance_etl_spark.sources.sink",
}
ENGINE_PACKAGE = "yfinance_etl_spark"


@dataclass
class Span:
    layer: str
    start: float
    parent: Span | None
    end: float = 0.0
    child_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_s


@dataclass
class Recorder:
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, layer: str) -> Span:
        st = self._stack()
        span = Span(layer, time.time(), st[-1] if st else None)
        st.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        if span.parent is not None:
            span.parent.child_s += span.wall_s
        with self._lock:
            self.spans.append(span)


_active: Recorder | None = None


def _enter(layer: str) -> Span | None:
    rec = _active
    return rec.open(layer) if rec is not None else None


def _exit(span: Span | None) -> None:
    rec = _active
    if rec is not None and span is not None:
        rec.close(span)


class span:
    """``with span("plans.build"):`` — a span opened by the benchmark itself."""

    def __init__(self, layer: str):
        self.layer = layer

    def __enter__(self):
        self._span = _enter(self.layer)
        return self._span

    def __exit__(self, *exc):
        _exit(self._span)
        return False


def _wrap(fn: types.FunctionType, layer: str) -> types.FunctionType:
    def traced(*args, **kwargs):
        s = _enter(layer)
        try:
            return fn(*args, **kwargs)
        finally:
            _exit(s)

    functools.update_wrapper(traced, fn)
    traced.__perfbench_layer__ = layer
    return traced


def activate(recorder: Recorder | None) -> None:
    """Record spans into ``recorder`` from now on (``None``: record nothing)."""
    global _active
    _active = recorder


def install(recorder: Recorder) -> int:
    """Activate ``recorder`` and wrap every layer module's public functions.
    Returns the number of functions wrapped."""
    activate(recorder)
    originals: dict[int, types.FunctionType] = {}
    for layer, modname in LAYER_MODULES.items():
        mod = importlib.import_module(modname)
        for attr, obj in list(vars(mod).items()):
            if (
                isinstance(obj, types.FunctionType)
                and not attr.startswith("_")
                and obj.__module__ == modname
                and not hasattr(obj, "__perfbench_layer__")
            ):
                wrapped = _wrap(obj, layer)
                setattr(mod, attr, wrapped)
                originals[id(obj)] = wrapped
    # rebind `from layer_module import fn` copies held by other engine modules
    for modname, mod in list(sys.modules.items()):
        if mod is None or not modname.startswith(ENGINE_PACKAGE):
            continue
        for attr, obj in list(vars(mod).items()):
            wrapped = originals.get(id(obj))
            if wrapped is not None and obj is wrapped.__wrapped__:
                setattr(mod, attr, wrapped)
    return len(originals)


def layer_totals(spans: list[Span], lo: float, hi: float) -> dict[str, dict[str, float]]:
    """Per layer: calls and self seconds of the spans that started in
    ``[lo, hi]``."""
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        if lo <= s.start <= hi:
            t = out.setdefault(s.layer, {"calls": 0, "self_s": 0.0})
            t["calls"] += 1
            t["self_s"] += s.self_s
    return out


def innermost_layer(spans: list[Span], t: float) -> str | None:
    """Layer of the most recently opened span still open at time ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start > best.start):
            best = s
    return best.layer if best is not None else None


class StreamProgress:
    """Collects streaming progress events through a StreamingQueryListener."""

    def __init__(self):
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                state_rows = sum(op.numRowsTotal for op in p.stateOperators)
                started = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                with sink._lock:
                    sink.events.append(
                        {
                            "t": started.timestamp(),
                            "batch_s": p.batchDuration / 1000.0,
                            "rows": p.numInputRows,
                            "state_rows": state_rows,
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()
