"""Spans around calls into the program's layers, recorded from outside.

``Tracer.install`` wraps every public module-level function, and every
public method of a class, defined in the program's modules, and
rebinds names other modules imported with ``from … import``. Each call
then records a span ``(name, start, end, parent, op)`` in memory; the
program itself is not edited. Spans are written out once, at the end.

A span's name is its module path below the package plus the function
(``plans.consolidation.consolidate``); its layer is the first part.
The benchmark adds its own spans (``bench``) for the op itself and the
stream's sink.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import threading
import time
from contextlib import contextmanager

PACKAGE = "smartbots_etl_facturas_spark"
LAYERS = ("session", "sources", "functions", "operators", "plans", "sinks",
          "streaming")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int, int | None]] = []
        self.op: int | None = None
        self._stack = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self.recording = True

    # --- recording ------------------------------------------------------

    def _parents(self) -> list[int]:
        st = getattr(self._stack, "ids", None)
        if st is None:
            st = self._stack.ids = []
        return st

    @contextmanager
    def paused(self):
        """No spans inside (the gate's own calls into the program)."""
        self.recording = False
        try:
            yield
        finally:
            self.recording = True

    @contextmanager
    def span(self, name: str):
        if not self.recording:
            yield
            return
        parents = self._parents()
        with self._lock:
            idx = len(self.spans)
            self.spans.append((name, time.perf_counter(), 0.0,
                               parents[-1] if parents else -1, self.op))
        parents.append(idx)
        try:
            yield
        finally:
            parents.pop()
            with self._lock:
                name_, start, _, parent, op = self.spans[idx]
                self.spans[idx] = (name_, start, time.perf_counter(), parent, op)

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    # --- installing -----------------------------------------------------

    def install(self) -> None:
        """Wrap the program's public callables."""
        pkg = importlib.import_module(PACKAGE)
        modules = [pkg]
        for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
            modules.append(importlib.import_module(info.name))
        originals: dict[int, object] = {}
        for mod in modules:
            short = mod.__name__[len(PACKAGE) + 1:]
            if short.split(".")[0] not in LAYERS:
                continue
            for attr, val in list(vars(mod).items()):
                if attr.startswith("_"):
                    continue
                if inspect.isfunction(val) and val.__module__ == mod.__name__:
                    wrapped = self._wrap(f"{short}.{attr}", val)
                    originals[id(val)] = wrapped
                    self._set(mod, attr, wrapped)
                elif inspect.isclass(val) and val.__module__ == mod.__name__:
                    for m, fn in list(vars(val).items()):
                        if not m.startswith("_") and inspect.isfunction(fn):
                            self._set(val, m, self._wrap(f"{short}.{attr}.{m}", fn))
        # rebind ``from module import name`` copies in the package
        for mod in modules:
            for attr, val in list(vars(mod).items()):
                w = originals.get(id(val))
                if w is not None and val is not w:
                    self._set(mod, attr, w)

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._undo):
            setattr(owner, attr, old)
        self._undo.clear()

    # --- reading --------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer: a span's duration minus the
        part of it its child spans cover (children run inside their
        parent on one thread, so they never overlap)."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += end - start
        out: dict[str, float] = {}
        for i, (name, start, end, _, _) in enumerate(self.spans):
            layer = name.split(".")[0]
            out[layer] = out.get(layer, 0.0) + (end - start) - child[i]
        return out

    def total(self, names: tuple[str, ...], op: int | None = None) -> float:
        """Summed duration of spans whose name ends with one of
        ``names`` (optionally only within ``op``)."""
        return sum(end - start for name, start, end, _, o in self.spans
                   if name.endswith(names) and (op is None or o == op))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([{"name": n, "start": s, "end": e, "parent": p, "op": o}
                       for n, s, e, p, o in self.spans], fh)
