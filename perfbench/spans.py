"""Span recorder for the traced benchmark run.

The recorder wraps public functions of the pipeline package by module
attribute, from outside the package: every module attribute that refers to a
listed function is replaced by a wrapper, so call sites that import by name
(``from ..sources.io import write_table``) are wrapped too.  Each wrapper

* records a span ``(id, name, layer, start, end, parent, run_id)``;
* sets the Spark local property ``perfbench.span`` to ``<run_id>/<span id>``
  while the call runs, so every job the call submits carries the label of
  its innermost span into the event log (local properties are thread-local
  in the JVM, and inherited by threads the call starts).

Spans are kept in memory and written out once, by ``dump``.  The pipeline
runs its layer calls one at a time (a streaming query's ``foreachBatch``
callback runs while the caller waits in ``awaitTermination``), so one span
stack shared by all threads gives every span its causal parent.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import threading
import time

PKG = "named_entity_discovery_and_linking_spark"
LABEL_KEY = "perfbench.span"

# layer -> public functions, as (module under PKG, attribute)
LAYERS = {
    "session": [("session", "get_spark"), ("session", "_ship_package")],
    "mentions": [("operators.mentions", "discover_mentions")],
    "lineage": [("plans.lineage", "run_stage")],
    "linking": [("operators.linking", "link_mentions"),
                ("operators.linking", "link_mentions_resumable")],
    "graph": [("plans.graph", "build_graph"),
              ("operators.canonicalize", "connected_components")],
    "io": [("sources.io", "write_table")],
    "takedown": [("plans.takedown", "takedown_urls")],
    "stream": [("streaming.stream_mentions", "stream_triples")],
    "reconcile": [("streaming.stream_mentions", "reconcile_triples"),
                  ("streaming.reconcile", "reconcile_triples_incremental")],
    "curation": [("plans.curation", "curate_corpus"),
                 ("operators.webcure", "url_dedup"),
                 ("operators.webcure", "line_dedup"),
                 ("operators.textstats", "gopher_filter"),
                 ("operators.dedup", "dedup_clusters"),
                 ("operators.dedup", "decontaminate"),
                 ("operators.sampling", "hash_sample"),
                 ("operators.textstats", "curation_report")],
    "similarity": [("operators.similarity", "semdedup_clusters")],
}

# Spans of these functions take the layer of the span that calls them:
# ``session.materialize`` is the parquet stage boundary inside linking and
# inside every curation cascade stage, so its work belongs to the caller.
INHERIT = [("session", "materialize")]


class SpanRecorder:
    """In-memory spans plus the Spark label that attributes jobs to them."""

    def __init__(self, run_id: str, sc=None, clock=time.time):
        self.run_id = run_id
        self.sc = sc
        self.clock = clock
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self._next = 0
        self.enabled = True

    def label(self, span_id: int) -> str:
        return f"{self.run_id}/{span_id}"

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None):
        """Record a span around the ``with`` body; a span without a layer
        takes its parent's."""
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            sp = {
                "id": self._next, "name": name,
                "layer": layer or (parent["layer"] if parent else "driver"),
                "parent": parent["id"] if parent else None,
                "run_id": self.run_id, "start": None, "end": None,
            }
            self._next += 1
            self._stack.append(sp)
        sc = self.sc
        prev = sc.getLocalProperty(LABEL_KEY) if sc is not None else None
        if sc is not None:
            sc.setLocalProperty(LABEL_KEY, self.label(sp["id"]))
        sp["start"] = self.clock()
        try:
            yield sp
        finally:
            sp["end"] = self.clock()
            if sc is not None:
                sc.setLocalProperty(LABEL_KEY, prev)
            with self._lock:
                self._stack.remove(sp)
                self.spans.append(sp)

    @contextlib.contextmanager
    def paused(self):
        """Context in which wrapped calls record nothing (output checks)."""
        self.enabled = False
        try:
            yield
        finally:
            self.enabled = True

    def wrap(self, fn, name: str, layer: str | None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        wrapper.__perfbench_original__ = fn
        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s["id"]):
                fh.write(json.dumps(sp, sort_keys=True) + "\n")


def install(rec: SpanRecorder, layers: dict = LAYERS, inherit=INHERIT) -> list:
    """Replace every package-module attribute that refers to a listed
    function by a recording wrapper.  Returns the undo list for
    ``uninstall``."""
    targets = [(m, a, layer) for layer, fns in layers.items() for m, a in fns]
    targets += [(m, a, None) for m, a in inherit]
    for m, _a, _l in targets:
        importlib.import_module(f"{PKG}.{m}")
    wrappers = {}
    for m, a, layer in targets:
        fn = getattr(sys.modules[f"{PKG}.{m}"], a)
        if id(fn) not in wrappers:
            wrappers[id(fn)] = (fn, rec.wrap(fn, f"{m.rsplit('.', 1)[-1]}.{a}", layer))
    undo = []
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            hit = wrappers.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])
                undo.append((mod, attr, val))
    return undo


def uninstall(undo: list) -> None:
    for mod, attr, val in undo:
        setattr(mod, attr, val)
