"""In-memory spans recorded around the program's public layer functions.

The benchmark never edits the program: it swaps a module attribute for
a wrapper that opens a span, calls the original and closes the span.
Callers that resolve the attribute at call time see the wrapper —
``run._cmd_run`` imports its stage functions inside the function body,
and ``gold_stream.start_gold_incremental``'s fold calls the merges
through module globals.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory; nothing is written until the run ends.

    The parent of a new span is the innermost open span on the same
    thread, else the ``root`` span the main thread opened: streaming
    foreachBatch callbacks run on a py4j callback thread, and their
    merge spans belong to the micro-batch the main thread is timing.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self.root: int | None = None
        # wrapper wall time not spent inside the wrapped calls: what
        # tracing adds to a traced run
        self.overhead_s = 0.0

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        s = Span(next(self._ids), parent, name, time.perf_counter())
        stack.append(s.span_id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.spans.append(s)

    @contextmanager
    def root_span(self, name: str):
        """A top-level span that also parents spans opened on other
        threads while it is open."""
        with self.span(name) as s:
            self.root = s.span_id
            try:
                yield s
            finally:
                self.root = None


class Patches:
    """Module-attribute swaps, undone in reverse order by ``restore``."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object]] = []

    def set(self, module_name: str, attr: str, wrapper_factory) -> None:
        module = importlib.import_module(module_name)
        original = getattr(module, attr)
        self._saved.append((module, attr, original))
        setattr(module, attr, wrapper_factory(original))

    def restore(self) -> None:
        while self._saved:
            module, attr, original = self._saved.pop()
            setattr(module, attr, original)


def _spanned(tracer: Tracer, name: str):
    def factory(original):
        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            inner = 0.0
            try:
                with tracer.span(name):
                    t1 = time.perf_counter()
                    try:
                        return original(*args, **kwargs)
                    finally:
                        inner = time.perf_counter() - t1
            finally:
                tracer.overhead_s += time.perf_counter() - t0 - inner

        return wrapper

    return factory


def _per_mart(tracer: Tracer):
    """``write_marts`` split into one original call per mart, in the
    caller's order, so every mart gets its own span under gold.write."""

    def factory(original):
        @functools.wraps(original)
        def wrapper(marts, out_dir):
            t0 = time.perf_counter()
            inner = 0.0
            try:
                with tracer.span("gold.write"):
                    for name, df in marts.items():
                        with tracer.span(f"gold.{name}"):
                            t1 = time.perf_counter()
                            try:
                                original({name: df}, out_dir)
                            finally:
                                inner += time.perf_counter() - t1
            finally:
                tracer.overhead_s += time.perf_counter() - t0 - inner

        return wrapper

    return factory


GOLD_STREAM_MERGES = (
    "summary", "partner", "eligibility", "claim_status", "quality", "kpis", "detail",
)


def install(tracer: Tracer) -> Patches:
    """Wrap every traced layer entry point; returns the undo handle."""
    p = Patches()
    pkg = "ai_fabric_etl_spark"
    p.set(f"{pkg}.pipeline.bronze", "write_bronze", _spanned(tracer, "bronze.write"))
    p.set(f"{pkg}.pipeline.silver", "write_silver", _spanned(tracer, "silver.write"))
    p.set(f"{pkg}.pipeline.gold", "write_marts", _per_mart(tracer))
    p.set(f"{pkg}.x12.ack997", "write_ack_files", _spanned(tracer, "ack997.write"))
    for m in GOLD_STREAM_MERGES:
        p.set(
            f"{pkg}.streaming.gold_stream",
            f"merge_{m}_batch",
            _spanned(tracer, f"gold_stream.merge_{m}"),
        )
    return p
