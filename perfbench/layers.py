"""Spans around public layer functions, installed from outside the program.

``install`` replaces each traced function with a wrapper that records a
span ``(layer, start_ms, end_ms)`` in memory, then rebinds every alias
of the original across the loaded ``pmp_analytics_spark`` modules. It
must run before ``pmp_analytics_spark.queries`` is imported so that the
query modules' own ``from ... import`` lines bind the wrappers.

Only the outermost call per layer and thread opens a span: an operator
entry point that calls another entry point of the same module is one
span, so a layer's time and job counts are not counted twice.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import re
import sys
import threading
import time

# Operator modules whose public functions are the traced entry points.
OPERATOR_MODULES = ("graph", "dedup", "suffix_array", "bpe", "unigram", "similarity_search", "classifier")

# (layer, module, function names or None for every public function).
TARGETS = (
    ("sources.load_table", "pmp_analytics_spark.sources.reader", ("load_table",)),
    ("sinks.publish", "pmp_analytics_spark.sources.writers", ("publish_versioned",)),
    ("sinks.publish", "pmp_analytics_spark.streaming.sinks", ("write_batches_idempotent",)),
    *((f"operators.{m}", f"pmp_analytics_spark.operators.{m}", None) for m in OPERATOR_MODULES),
)

_MEMO_NAME = re.compile(r"^_[A-Z0-9_]+_MEMO$")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float]] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            depth = getattr(tracer._local, layer, 0)
            if depth:
                return fn(*args, **kwargs)
            setattr(tracer._local, layer, 1)
            t0 = time.time() * 1000.0
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time() * 1000.0
                setattr(tracer._local, layer, 0)
                with tracer._lock:
                    tracer.spans.append((layer, t0, t1))

        return traced

    def spans_of(self, layer: str, start_ms: float, end_ms: float) -> list[tuple[float, float]]:
        """Spans of ``layer`` that started inside [start_ms, end_ms]."""
        with self._lock:
            return [(s, e) for name, s, e in self.spans if name == layer and start_ms <= s <= end_ms]


def install(tracer: Tracer) -> None:
    """Wrap every target."""
    if "pmp_analytics_spark.queries" in sys.modules:
        raise RuntimeError("install layer spans before importing pmp_analytics_spark.queries")
    swaps: dict[int, object] = {}
    for layer, modname, names in TARGETS:
        mod = importlib.import_module(modname)
        if names is None:
            names = [
                n
                for n, obj in vars(mod).items()
                if not n.startswith("_") and inspect.isfunction(obj) and obj.__module__ == modname
            ]
        for name in names:
            original = getattr(mod, name)
            wrapper = tracer.wrap(layer, original)
            setattr(mod, name, wrapper)
            swaps[id(original)] = wrapper
    # Rebind aliases that other program modules imported before the swap.
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith("pmp_analytics_spark") or mod is None:
            continue
        for name, obj in list(vars(mod).items()):
            if id(obj) in swaps and obj is not swaps[id(obj)]:
                setattr(mod, name, swaps[id(obj)])


def memo_entries() -> int:
    """Total entries held by the program's module-level ``_*_MEMO`` dicts."""
    return sum(
        len(obj)
        for modname, mod in list(sys.modules.items())
        if modname.startswith("pmp_analytics_spark") and mod is not None
        for name, obj in vars(mod).items()
        if _MEMO_NAME.match(name) and isinstance(obj, dict)
    )


def cache_held(spark) -> tuple[float, int]:
    """(MB, RDD count) that the block manager holds for persisted RDDs,
    cached frames and local checkpoints alike."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    held = [i for i in infos if i.numCachedPartitions() > 0]
    mb = sum(i.memSize() + i.diskSize() for i in held) / (1024.0 * 1024.0)
    return mb, len(held)
