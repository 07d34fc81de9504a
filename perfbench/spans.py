"""Spans around the public functions of each data_frame_spark layer.

The benchmark installs these wrappers at run time; the program itself
carries no tracing code. A wrapper replaces every module-level binding
of a function in the loaded ``data_frame_spark`` modules, so a call
through ``_OP.<name>``, ``CSVSrc.write_csv`` or a function-local
``from ... import`` all land in the span.

Queries run one at a time, so a span that opens on a thread with no
open span of its own (a facet thread-pool worker) takes the current
query span as its parent.
"""

from __future__ import annotations

import functools
import inspect
import pkgutil
import sys
import threading
import time
import types
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0


class Tracer:
    """Keeps spans in memory; ``install`` wraps the layer functions and
    ``uninstall`` puts the originals back."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.query_span: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[dict, str, object]] = []

    def open(self, layer: str, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1].id if stack else self.query_span
        with self._lock:
            span = Span(len(self.spans), parent, layer, name, time.time())
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        self._stack().remove(span)

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer.open(layer, fn.__name__)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(span)

        return traced

    def install(self) -> int:
        """Wrap every layer function; return how many were wrapped."""
        targets = layer_functions()
        wrappers = {id(fn): self.wrap(fn, layer) for fn, layer in targets}
        for mod in _program_modules():
            for attr, val in list(vars(mod).items()):
                w = wrappers.get(id(val))
                if w is not None:
                    self._patches.append((vars(mod), attr, val))
                    setattr(mod, attr, w)
        return len(targets)

    def uninstall(self) -> None:
        for ns, attr, original in reversed(self._patches):
            ns[attr] = original
        self._patches.clear()


def _program_modules() -> list[types.ModuleType]:
    return [
        m for n, m in list(sys.modules.items())
        if m is not None and (n == "data_frame_spark" or n.startswith("data_frame_spark."))
    ]


def _import_all(package: str) -> list[types.ModuleType]:
    import importlib

    pkg = importlib.import_module(package)
    return [
        importlib.import_module(f"{package}.{info.name}")
        for info in pkgutil.iter_modules(pkg.__path__)
    ]


def _public_functions(mod: types.ModuleType):
    for name, val in vars(mod).items():
        if (
            not name.startswith("_")
            and inspect.isfunction(val)
            and val.__module__ == mod.__name__
        ):
            yield name, val


def layer_functions() -> list[tuple[object, str]]:
    """(function, layer) for every traced function of the program.

    Layers: ``session`` (get_spark, load_table), ``oracle_prep`` (the
    family ``*_spark`` builders), ``operators.<module>`` (public
    operator functions) and ``sources.read`` / ``sources.write`` (the
    ``read_*`` / ``write_*`` functions). The ``queries`` layer is the
    registry callable itself, which the runner times directly.
    """
    from data_frame_spark import oracle_prep, session

    out: list[tuple[object, str]] = [
        (session.get_spark, "session.get_spark"),
        (session.load_table, "session.load_table"),
    ]
    out += [
        (fn, "oracle_prep")
        for name, fn in _public_functions(oracle_prep)
        if name.endswith("_spark")
    ]
    for mod in _import_all("data_frame_spark.operators"):
        short = mod.__name__.rsplit(".", 1)[1]
        out += [(fn, f"operators.{short}") for _, fn in _public_functions(mod)]
    for mod in _import_all("data_frame_spark.sources"):
        for name, fn in _public_functions(mod):
            if name.startswith("read_"):
                out.append((fn, "sources.read"))
            elif name.startswith("write_"):
                out.append((fn, "sources.write"))
    return out


def fold_spans(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per layer: calls, inclusive seconds and self seconds.

    Inclusive time counts only spans with no ancestor of the same
    layer, so recursion inside a layer is not counted twice. Self time
    is a span's duration minus the union of its children's intervals
    (children on facet threads may overlap each other).
    """
    by_id = {s.id: s for s in spans}
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        rec = out.setdefault(s.layer, {"calls": 0, "s": 0.0, "self_s": 0.0})
        rec["calls"] += 1
        anc = by_id.get(s.parent) if s.parent is not None else None
        while anc is not None and anc.layer != s.layer:
            anc = by_id.get(anc.parent) if anc.parent is not None else None
        if anc is None:
            rec["s"] += s.end - s.start
        covered = union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])]
        )
        rec["self_s"] += (s.end - s.start) - covered
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
