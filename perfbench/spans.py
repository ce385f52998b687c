"""In-memory spans and the wrappers that record layer spans.

A span holds name, start, end, parent and submission id. The root span of
a submission is ``submission`` with children ``build``, ``plan`` and
``execute``. Layer spans come from wrappers around public functions of the
engine's modules; they are installed before ``plans.registry`` is imported
so that module-level ``from ... import`` bindings pick them up, and
bindings made earlier are rebound by ``install_wrappers`` itself.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import sys
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "sql_redshift_etl_spark"

# (module, function) -> span name. One span name per layer entry point.
LAYER_FUNCTIONS: dict[tuple[str, str], str] = {
    ("catalog", "load_table"): "catalog.load_table",
    ("scale", "parquet_total_rows"): "scale.parquet_total_rows",
    ("functions.script_runner", "run_redshift_script"): "script_runner.run_redshift_script",
    ("functions.script_runner", "split_statements"): "script_runner.split_statements",
    ("functions.redshift_sql", "translate_redshift_sql"): "redshift_sql.translate_redshift_sql",
    ("sources.readers", "read_csv"): "sources.read",
    ("sources.readers", "read_json_lines"): "sources.read",
    ("sources.readers", "read_json_with_paths"): "sources.read",
    ("sources.readers", "read_partitioned"): "sources.read",
    ("sources.readers", "read_fixed_width"): "sources.read",
    ("sources.readers", "read_with_error_budget"): "sources.read",
    ("sources.writers", "unload_parquet"): "sources.write",
    ("sources.writers", "unload_csv"): "sources.write",
    ("sources.writers", "write_manifest"): "sources.write",
    ("sources.writers", "write_bucketed_table"): "sources.write",
    ("streaming.pipeline", "run_to_memory"): "streaming.run_to_memory",
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    sid: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory. Each thread keeps its own stack of open
    spans; a thread with no open span (a Spark callback thread, say)
    attaches its spans to the innermost open span of the single running
    submission, if exactly one is running."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open_stacks: dict[int, list[Span]] = {}

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _new(self, name: str, parent: Span | None, sid: int | None) -> Span:
        with self._lock:
            span = Span(len(self.spans), name, time.perf_counter(), parent.id if parent else None, sid)
            self.spans.append(span)
        return span

    def current(self) -> Span | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        with self._lock:
            if len(self._open_stacks) == 1:
                (only,) = self._open_stacks.values()
                return only[-1] if only else None
        return None

    @contextmanager
    def submission(self, sid: int, query: str) -> Iterator[Span]:
        stack = self._stack()
        if stack:
            raise RuntimeError("a submission is already open on this thread")
        root = self._new("submission", None, sid)
        root.attrs["query"] = query
        stack.append(root)
        with self._lock:
            self._open_stacks[sid] = stack
        try:
            yield root
        finally:
            root.end = time.perf_counter()
            stack.pop()
            with self._lock:
                del self._open_stacks[sid]

    @contextmanager
    def span(self, name: str) -> Iterator[Span | None]:
        """A child of the current span; records nothing outside a submission."""
        parent = self.current()
        if parent is None:
            yield None
            return
        span = self._new(name, parent, parent.sid)
        stack = self._stack()
        stack.append(span)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            stack.pop()


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        ivals = sorted((max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, ()))
        covered, reach = 0.0, s.start
        for lo, hi in ivals:
            lo = max(lo, reach)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.id] = s.duration - covered
    return out


def _written(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files at ``path`` (a file or a directory)."""
    if os.path.isfile(path):
        return 1, os.path.getsize(path)
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _wrap(tracer: Tracer, fn: Callable, name: str) -> Callable:
    sig = inspect.signature(fn)
    is_write = name == "sources.write" and "df" in sig.parameters  # writes data, not a manifest
    is_split = name == "script_runner.split_statements"

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name) as span:
            result = fn(*args, **kwargs)
            if span is not None:
                if is_split:
                    span.attrs["statements"] = len(result)
                elif is_write:
                    path = sig.bind(*args, **kwargs).arguments.get("path")
                    if isinstance(path, str) and os.path.exists(path):
                        span.attrs["files"], span.attrs["bytes"] = _written(path)
            return result

    wrapper.__wrapped_by_perfbench__ = fn  # marks the function as installed
    return wrapper


def install_wrappers(tracer: Tracer) -> None:
    """Wrap every LAYER_FUNCTIONS entry point, then point every attribute
    of an imported engine module that holds an original function at its
    wrapper, which covers ``from module import fn`` done earlier."""
    wrappers: dict[int, Callable] = {}  # id(original) -> wrapper
    for (mod_name, fn_name), span_name in LAYER_FUNCTIONS.items():
        fn = getattr(importlib.import_module(f"{PACKAGE}.{mod_name}"), fn_name)
        if hasattr(fn, "__wrapped_by_perfbench__"):
            raise RuntimeError(f"{mod_name}.{fn_name} is already wrapped")
        wrappers[id(fn)] = _wrap(tracer, fn, span_name)
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
            continue
        for attr, value in list(vars(mod).items()):
            wrapper = wrappers.get(id(value))
            if wrapper is not None:
                setattr(mod, attr, wrapper)
