"""Spans around the engine's layer entry points, added at run time.

``installed(tracer)`` wraps public functions of the package in place (no
source edit) for the duration of a ``with`` block.  Each wrapped
call opens a span named after the layer's module; while it is open the
span name is the ``perfbench.span`` Spark local property, so every job
the call starts is tagged with it in the event log (see eventlog.py).

A span's self time is its duration minus the time of the spans opened
inside it.  A call into the layer that is already innermost (e.g.
``connected_components`` delegating to ``connected_components_single``)
stays in the open span.  Spark is lazy: a layer whose call only builds a
plan is charged where the plan runs, which for the pipeline stages is the
catalog write of the stage's table.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict

from perfbench.eventlog import SPAN_PROPERTY

# table written by GraphCatalog.create_or_replace -> layer whose work it runs
STAGE_TABLES = {
    "pages_text": "extract",
    "mentions": "mentions",
    "linked": "linking",
    "triples_raw": "triples",
    "canonical_map": "cc",
    "triples": "pipeline.rewrite",
}
TABLES = "tables"
OBSERVABILITY_TABLES = ("_metrics", "_lineage")


class Tracer:
    """Span stack of the thread that runs the job.  ``enabled=False`` makes every
    span a no-op, so the same job code runs traced and untraced."""

    def __init__(self, sc, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.writes: list[tuple[str, str]] = []  # (span, table)
        self._stack: list[list] = []  # [name, start, child seconds]

    @property
    def current(self) -> str | None:
        return self._stack[-1][0] if self._stack else None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled or self.current == name:
            yield
            return
        self._stack.append([name, time.perf_counter(), 0.0])
        self.calls[name] += 1
        self.sc.setLocalProperty(SPAN_PROPERTY, name)
        try:
            yield
        finally:
            _, start, child = self._stack.pop()
            took = time.perf_counter() - start
            self.self_s[name] += took - child
            if self._stack:
                self._stack[-1][2] += took
            self.sc.setLocalProperty(SPAN_PROPERTY, self.current)

    def record_write(self, table: str) -> None:
        if self.enabled and self.current is not None:
            self.writes.append((self.current, table))


def _wrap(tracer: Tracer, layer: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(layer):
            return fn(*args, **kwargs)

    return traced


@contextlib.contextmanager
def installed(tracer: Tracer):
    """Wrap the layers' entry points while the block runs; a disabled
    tracer installs nothing."""
    if not tracer.enabled:
        yield
        return
    from graph_importer_spark import cc, pipeline, tables
    from graph_importer_spark.importer import edge_list
    from graph_importer_spark.operators import analytics

    undo: list[tuple[object, str, object]] = []

    def patch(owner, attr: str, new) -> None:
        undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    cat = tables.GraphCatalog
    create_or_replace, append = cat.create_or_replace, cat.append

    def traced_create_or_replace(self, name, df, *args, **kwargs):
        layer = STAGE_TABLES.get(name) or (TABLES if name in OBSERVABILITY_TABLES else None)
        with tracer.span(layer) if layer else contextlib.nullcontext():
            tracer.record_write(name)
            return create_or_replace(self, name, df, *args, **kwargs)

    def traced_append(self, name, df, *args, **kwargs):
        layer = TABLES if name in OBSERVABILITY_TABLES else None
        with tracer.span(layer) if layer else contextlib.nullcontext():
            tracer.record_write(name)
            return append(self, name, df, *args, **kwargs)

    patch(cat, "create_or_replace", traced_create_or_replace)
    patch(cat, "append", traced_append)
    patch(cat, "file_row_counts", _wrap(tracer, TABLES, cat.file_row_counts))
    patch(cc, "connected_components", _wrap(tracer, "cc", cc.connected_components))
    patch(
        cc,
        "connected_components_single",
        _wrap(tracer, "cc", cc.connected_components_single),
    )
    # both modules bind materialize_graph with `from ... import`
    for mod in (pipeline, edge_list):
        patch(mod, "materialize_graph", _wrap(tracer, "materialize", mod.materialize_graph))
    patch(pipeline, "run_pipeline", _wrap(tracer, "pipeline.self", pipeline.run_pipeline))
    patch(edge_list, "import_edge_list", _wrap(tracer, "importer", edge_list.import_edge_list))
    patch(analytics, "pagerank", _wrap(tracer, "analytics", analytics.pagerank))

    try:
        yield
    finally:
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)
