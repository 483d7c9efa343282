"""Spans recorded from outside the program, around calls into its layers.

A span has a layer (a module name such as ``functions.dedup``), a name, a
start, an end and a parent. ``Tracer.span`` opens one; ``Tracer.patch``
replaces every public function of a module with a wrapper that opens a
span per call, and rebinds every name elsewhere in the package that refers
to the same function (``from x import f`` copies), so calls made through
those copies are traced too.

Job groups. A span whose layer differs from its parent's sets the Spark
job group ``perfbench-<span id>`` on entry and restores the parent's group
on exit, so every Spark job started inside a call is attributed to the
innermost span of another layer. Nested spans of one layer share their
outer span's group: attribution is per layer, and skipping the group
switch keeps wrappers on hot helper functions cheap.

Spans stay in memory; the caller writes them out when the run ends.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from types import ModuleType
from typing import Any, Callable, Iterator

GROUP_PREFIX = "perfbench-"
_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float
    group: str | None

    def to_dict(self) -> dict:
        return asdict(self)


class Tracer:
    def __init__(self, spark_context: Any) -> None:
        self._sc = spark_context
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        # (span id, layer, job group) of every open span, innermost last
        self._stack: list[tuple[int, str, str | None]] = []
        self._patched: list[tuple[Any, str, Any]] = []

    @contextmanager
    def span(self, layer: str, name: str) -> Iterator[int]:
        sid = next(self._ids)
        parent, parent_layer, parent_group = (
            self._stack[-1] if self._stack else (None, None, None)
        )
        group = parent_group
        if layer != parent_layer:
            group = f"{GROUP_PREFIX}{sid}"
            self._sc.setLocalProperty(_GROUP_KEY, group)
        self._stack.append((sid, layer, group))
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if group != parent_group:
                self._sc.setLocalProperty(_GROUP_KEY, parent_group)
            self.spans.append(Span(sid, parent, layer, name, start, end, group))

    # -- wrapping the program's public functions ------------------------

    def patch(self, module: ModuleType, layer: str, names: list[str] | None = None) -> None:
        """Trace calls to ``module``'s public functions (or ``names``)."""
        if names is None:
            names = [
                n
                for n, obj in vars(module).items()
                if not n.startswith("_")
                and inspect.isfunction(obj)
                and obj.__module__ == module.__name__
            ]
        for n in names:
            self._wrap(module, n, layer, f"{layer}.{n}")

    def patch_method(self, cls: type, attr: str, layer: str) -> None:
        self._wrap(cls, attr, layer, f"{layer}.{cls.__name__}.{attr}")

    def _wrap(self, owner: Any, attr: str, layer: str, name: str) -> None:
        original = vars(owner)[attr]
        wrapper = _Traced(self, layer, name, original, owner, attr)
        self._set(owner, attr, wrapper)
        if isinstance(owner, ModuleType):
            # rebind `from module import fn` copies held by other modules
            for mod in list(sys.modules.values()):
                if mod is owner or not _is_program_module(mod):
                    continue
                for k, v in list(vars(mod).items()):
                    if v is original:
                        self._set(mod, k, wrapper)

    def _set(self, owner: Any, attr: str, value: Any) -> None:
        self._patched.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, value)

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()


def _is_program_module(mod: Any) -> bool:
    name = getattr(mod, "__name__", "") or ""
    return name == "__spark_entry__" or name.startswith("polars_pipe_spark")


class _Traced:
    """Callable stand-in for a traced function or method.

    Pickles as a lookup of the original attribute, so a Python worker that
    unpickles a closure referring to it gets the program's own function
    (workers import the unpatched module) and never the tracer."""

    def __init__(self, tracer: Tracer, layer: str, name: str, fn: Callable,
                 owner: Any, attr: str) -> None:
        self._tracer, self._layer, self._name = tracer, layer, name
        self._fn, self._owner, self._attr = fn, owner, attr
        functools.update_wrapper(self, fn)

    def __call__(self, *args: Any, **kwargs: Any) -> Any:
        with self._tracer.span(self._layer, self._name):
            return self._fn(*args, **kwargs)

    def __get__(self, obj: Any, objtype: type | None = None) -> Any:
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self) -> tuple:
        return getattr, (self._owner, self._attr)
