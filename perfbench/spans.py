"""Spans around calls into the engine's layers.

:meth:`Tracer.install` replaces every public function (and every public
method of a public class) defined in the engine's layer modules with a
wrapper that records ``(name, start, end, ancestors)`` while the tracer
is enabled.  It must run before the query registry is imported: query
modules bind ``from ... import f`` at import time, and install also
rebinds such names in every engine module already loaded.

Spans are kept in memory and summarised by :func:`layer_metrics` when
the benchmark ends.  The engine's Column-expression helpers
(``functions/``) are not wrapped: they build expressions per plan and
are not a layer boundary.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time

PACKAGE = "week4_musemotion_spark"
LAYERS = ("session", "dashboard", "sources", "operators", "streaming")

#: operator modules the workloads exercise: (module, report call count)
OPERATOR_MODULES = (("pq", True), ("sketches", True), ("etl", False), ("upsert", False), ("pipeline", False))


class Tracer:
    """Process-wide span recorder; disabled until :attr:`enabled` is set."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple[str, float, float, tuple[str, ...]]] = []
        self._local = threading.local()

    def _stack(self) -> list[str]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            parents = tuple(stack)
            stack.append(name)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                tracer.spans.append((name, t0, t1, parents))

        return wrapper

    def install(self) -> int:
        """Wrap the layer modules' public callables; returns how many."""
        if f"{PACKAGE}.queries" in sys.modules:
            raise RuntimeError("spans must be installed before the query registry is imported")
        pkg = importlib.import_module(PACKAGE)
        modules = []
        for layer in LAYERS:
            mod = importlib.import_module(f"{PACKAGE}.{layer}")
            modules.append(mod)
            if hasattr(mod, "__path__"):
                for info in pkgutil.iter_modules(mod.__path__):
                    modules.append(importlib.import_module(f"{mod.__name__}.{info.name}"))
        originals: dict[int, object] = {}
        for mod in modules:
            short = mod.__name__[len(pkg.__name__) + 1 :]
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj) and obj.__qualname__ == attr:
                    wrapped = self._wrap(f"{short}.{attr}", obj)
                    setattr(mod, attr, wrapped)
                    originals[id(obj)] = wrapped
                elif inspect.isclass(obj):
                    for meth, fn in list(vars(obj).items()):
                        if not meth.startswith("_") and inspect.isfunction(fn):
                            setattr(obj, meth, self._wrap(f"{short}.{attr}.{meth}", fn))
        # rebind names that engine modules imported before the wrap
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith(PACKAGE):
                continue
            for attr, obj in list(vars(mod).items()):
                if id(obj) in originals and inspect.isfunction(obj):
                    setattr(mod, attr, originals[id(obj)])
        return len(originals)


def _outermost(spans, prefix: str):
    """Spans whose name starts with ``prefix`` and that were not called
    from inside another span with that prefix (no double counting)."""
    return [s for s in spans if s[0].startswith(prefix) and not any(p.startswith(prefix) for p in s[3])]


def layer_metrics(spans, passes: int) -> dict[str, float]:
    """Per-pass span totals for the benchmark's per-layer metrics."""
    per = 1.0 / max(passes, 1)

    def total(prefix: str) -> float:
        return sum(e - s for _, s, e, _ in _outermost(spans, prefix)) * per

    def calls(prefix: str) -> float:
        return len(_outermost(spans, prefix)) * per

    out = {
        "sources.load_table.calls": calls("sources.tables.load_table"),
        "sources.load_table_s": total("sources.tables.load_table"),
        "sources.exact_scan_rows.calls": calls("sources.tables.exact_scan_rows"),
        "sources.spread.calls": calls("sources.tables.spread"),
        "sources.read_headerless_csv_s": total("sources.csv.read_headerless_csv"),
        "sources.write_parquet_s": total("sources.sinks.write_parquet"),
        "dashboard.filter_options_s": total("dashboard.Dashboard.filter_options"),
        "dashboard.kpis_s": total("dashboard.Dashboard.kpis"),
        "dashboard.vehicles_by_make_s": total("dashboard.Dashboard.vehicles_by_make"),
        "dashboard.counts_by_city_s": total("dashboard.Dashboard.counts_by_city"),
    }
    for m, with_calls in OPERATOR_MODULES:
        out[f"operators.{m}_s"] = total(f"operators.{m}.")
        if with_calls:
            out[f"operators.{m}.calls"] = calls(f"operators.{m}.")
    return out
