"""Outside-in span tracer for the engine's layers.

``Tracer.install()`` replaces every public function of each layer's
modules with a wrapper that records a span (name, layer, start, end,
parent, run id) and puts the Spark jobs it launches in a job group of
their own, so jobs can be attributed to the innermost layer call that
started them. The wrapper is set on the defining module and on every
``hadoop_gpu_spark`` module that bound the same function object at import
time; ``uninstall()`` restores the originals. Functions shipped to Python
workers are pickled by reference and resolve to the unwrapped original
there, so only driver-side calls are traced.

Spark plans are lazy: a layer call span covers plan construction and any
eager action the function runs itself (collects, streaming drains,
writes). Work a plan defers to the sink is timed by the benchmark's
``queries.exec`` split and attributed through SQL plan metrics instead.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import pkgutil
import sys
import threading
import time
from dataclasses import dataclass

PACKAGE = "hadoop_gpu_spark"

# layer -> modules (a trailing ".*" also takes every submodule of a package)
LAYER_MODULES: dict[str, list[str]] = {
    "tables": ["tables"],
    "sources": ["sources"],
    "operators": ["operators.*"],
    "operators.pipes": ["operators.pipes"],
    "functions": ["functions.*"],
    "dedup": ["dedup.*"],
    "similarity": ["similarity.*"],
    "ml.kmeans": ["ml.kmeans"],
    "ml.matmul": ["ml.matmul"],
    "hybrid": ["hybrid.*"],
    "streaming": ["streaming"],
}


def layer_modules() -> dict[str, str]:
    """Map each module name to its layer; a module named explicitly by one
    layer (``operators.pipes``) is not also claimed by a package wildcard."""
    out: dict[str, str] = {}
    explicit: dict[str, str] = {}
    for layer, specs in LAYER_MODULES.items():
        for spec in specs:
            base = f"{PACKAGE}.{spec.removesuffix('.*')}"
            if spec.endswith(".*"):
                pkg = importlib.import_module(base)
                out.setdefault(base, layer)
                for info in pkgutil.iter_modules(pkg.__path__, prefix=f"{base}."):
                    out.setdefault(info.name, layer)
            else:
                explicit[base] = layer
    out.update(explicit)
    return out


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0
    thread: int = 0


class Tracer:
    """Collects spans in memory; ``write()`` dumps them as JSON lines."""

    def __init__(self, spark, run_id: str, hooks: dict | None = None):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        # "module.qualname" -> callback(args, result), run after each call
        self.hooks = hooks or {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._patched: list[tuple[object, str, object]] = []

    # -- span bookkeeping ---------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(self.group_id(span.id), f"{span.layer}:{span.name}")

    def group_id(self, span_id: int) -> str:
        return f"pb-{self.run_id}-{span_id}"

    def _open(self, name: str, layer: str) -> Span:
        stack = self._stack()
        with self._lock:
            self._next_id += 1
            span = Span(self._next_id, stack[-1].id if stack else None, name, layer,
                        time.perf_counter(), thread=threading.get_ident())
            self.spans.append(span)
        stack.append(span)
        self._set_group(span)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        self._set_group(stack[-1] if stack else None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self._open(name, layer)
        try:
            yield s
        finally:
            self._close(s)

    # -- patching -----------------------------------------------------------
    def _wrap(self, fn, layer: str):
        hook = self.hooks.get(f"{fn.__module__}.{fn.__qualname__}")

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(fn.__name__, layer):
                result = fn(*args, **kwargs)
            if hook is not None:
                hook(args, result)
            return result

        return wrapper

    def install(self) -> int:
        """Wrap every public function of every layer module; return count."""
        targets: dict[int, tuple[object, object]] = {}
        for mod_name, layer in layer_modules().items():
            mod = importlib.import_module(mod_name)
            for attr, obj in vars(mod).items():
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == mod_name
                ):
                    targets[id(obj)] = (obj, self._wrap(obj, layer))
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                hit = targets.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, attr, hit[1])
                    self._patched.append((mod, attr, obj))
        return len(targets)

    def uninstall(self) -> None:
        for mod, attr, obj in reversed(self._patched):
            setattr(mod, attr, obj)
        self._patched.clear()

    # -- results ------------------------------------------------------------
    def self_times(self, spans: list[Span]) -> dict[str, float]:
        """Per-layer self time: span duration minus the part of it covered
        by its direct children (children of one thread never overlap)."""
        child_cover: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child_cover[s.parent] = child_cover.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in spans:
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child_cover.get(s.id, 0.0)
        return out

    def subtree_ids(self, spans: list[Span], layer: str) -> set[int]:
        """Ids of every span of ``layer`` and of all spans nested in one."""
        children: dict[int, list[int]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s.id)
        todo = [s.id for s in spans if s.layer == layer]
        seen: set[int] = set()
        while todo:
            sid = todo.pop()
            if sid not in seen:
                seen.add(sid)
                todo.extend(children.get(sid, ()))
        return seen

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run": self.run_id, "id": s.id, "parent": s.parent, "name": s.name,
                    "layer": s.layer, "start": s.start, "end": s.end, "thread": s.thread,
                }) + "\n")
