"""Metric names and units: the end-to-end metrics of an untraced run and
the per-layer metrics of a traced run (kept equal to BENCHMARK.json)."""

from __future__ import annotations

from spans import LAYERS as _SPAN_LAYERS

END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "pages_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
    {"name": "takedown_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "peak_rss_mb", "unit": "MiB", "better": "lower", "bound": 0.25},
]

LAYERS = tuple(_SPAN_LAYERS)
COUNTER_UNITS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count", "task_s": "s",
    "gc_s": "s", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
    "driver_gap_s": "s", "rows_out": "rows",
}
EXTRA = [
    ("linking.kb_linked_ratio", "ratio"), ("linking.tmpkb_ratio", "ratio"),
    ("curation.kept_ratio", "ratio"), ("similarity.pairs_out", "count"),
    ("takedown.rows_removed", "rows"), ("reconcile.runs", "count"),
    ("stream.batches", "count"), ("stream.batch_latency_p50_s", "s"),
    ("trace.wall_s", "s"),
    ("trace.coverage_ratio", "ratio"), ("trace.uncovered_s", "s"),
    ("trace.unlabeled_jobs", "count"),
]


def per_layer_names() -> list[tuple[str, str]]:
    return [(f"{layer}.{c}", u) for layer in LAYERS for c, u in COUNTER_UNITS.items()] + EXTRA
