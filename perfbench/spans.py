"""Spans around the public functions of each layer, recorded from the
benchmark's side.

:class:`Tracer` rebinds each traced function to a wrapper in every
module of the package that holds it under the traced name -- the
defining module and every module that imported it with ``from ...
import name`` (``cost_allocation.converge_dense``, and
``rotate_local_checkpoint`` in ``ipf``, ``ipf_dense``, ``graph`` and
``dedup``) -- and restores the originals on :meth:`Tracer.uninstall`.
Installing and uninstalling are cheap, so a run can alternate traced
and untraced ops.
Spans stay in memory; :meth:`Tracer.dump` writes them out once.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

PACKAGE = "alternating_least_squares_spark"

# (module relative to the package, function) -- one entry per public
# function the per-layer table names.
TARGETS = [
    ("sources.catalog", "load_table"),
    ("plans.cost_allocation", "cost_per_visit"),
    ("plans.cost_allocation", "allocate_costs"),
    ("operators.ipf_dense", "converge_dense"),
    ("operators.ipf", "converge"),
    ("operators.matrix", "ipf_step"),
    ("checkpoint", "rotate_local_checkpoint"),
    ("operators.graph", "components_fixed"),
    ("functions.dedup", "near_dup_pairs"),
    ("functions.dedup", "dedup_components"),
]


def span_name(module: str, func: str) -> str:
    """The layer-qualified name; ``sources.catalog.load_table`` is
    reported under the package's public spelling ``sources.load_table``."""
    if module == "sources.catalog":
        module = "sources"
    return f"{module}.{func}"


def _package_modules() -> list:
    return [
        mod
        for name, mod in list(sys.modules.items())
        if name == PACKAGE or name.startswith(PACKAGE + ".")
    ]


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float
    op: int | None
    # the span ran the op's jobs [jobs_before, jobs_after) in job-id order
    jobs_before: int
    jobs_after: int


class Tracer:
    """Records one span per call of a wrapped function, plus the spans
    the benchmark opens itself with :meth:`span`.

    ``jobs_so_far`` returns how many Spark jobs the current op has run;
    with the op's job ids, a span's two counts give the ids it ran.
    """

    def __init__(self, jobs_so_far) -> None:
        self._jobs_so_far = jobs_so_far
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._originals: dict = {}  # wrapper -> wrapped function
        self.op: int | None = None

    def _open(self, name: str) -> Span:
        span = Span(
            id=len(self.spans),
            parent=self._stack[-1] if self._stack else None,
            name=name,
            start=time.perf_counter(),
            end=0.0,
            op=self.op,
            jobs_before=self._jobs_so_far(),
            jobs_after=-1,
        )
        self.spans.append(span)
        self._stack.append(span.id)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        span.jobs_after = self._jobs_so_far()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        span = self._open(name)
        try:
            yield span
        finally:
            self._close(span)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Rebind every target in every package module holding it. The
        target modules are imported first, so none of them binds a
        wrapper by importing it from another while this runs."""
        if self._originals:
            return
        homes = [importlib.import_module(f"{PACKAGE}.{m}") for m, _ in TARGETS]
        wrappers = {}
        for home, (module, func) in zip(homes, TARGETS):
            original = getattr(home, func)
            wrappers[func, id(original)] = self._wrap(span_name(module, func), original)
            self._originals[wrappers[func, id(original)]] = original
        for mod in _package_modules():
            for _, func in TARGETS:
                wrapper = wrappers.get((func, id(getattr(mod, func, None))))
                if wrapper is not None:
                    setattr(mod, func, wrapper)

    def uninstall(self) -> None:
        """Restore the originals wherever one of this tracer's wrappers
        is bound, including modules imported while it was installed."""
        for mod in _package_modules():
            for _, func in TARGETS:
                original = self._originals.get(getattr(mod, func, None))
                if original is not None:
                    setattr(mod, func, original)
        self._originals = {}

    def per_op(self, op: int) -> dict[str, dict[str, float]]:
        """For op ``op``: per span name, the summed wall time, self time
        (wall minus the time its direct children cover) and call count."""
        spans = [s for s in self.spans if s.op == op]
        child_time: dict[int, float] = defaultdict(float)
        for s in spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"wall_s": 0.0, "self_s": 0.0, "calls": 0}
        )
        for s in spans:
            wall = s.end - s.start
            agg = out[s.name]
            agg["wall_s"] += wall
            agg["self_s"] += wall - child_time[s.id]
            agg["calls"] += 1
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, fh)
