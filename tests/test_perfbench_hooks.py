"""The traced benchmark (``perfbench/spans.py``) wraps package functions by
module attribute.  Every hook it names must resolve, so that renaming a
wrapped function fails here rather than in a traced benchmark run."""

import importlib
import importlib.util
import os

SPANS_PY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "perfbench", "spans.py")


def test_every_span_hook_resolves_on_the_package():
    spec = importlib.util.spec_from_file_location("perfbench_spans", SPANS_PY)
    spans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(spans)
    hooks = [h for funcs in spans.LAYERS.values() for h in funcs] + list(spans.INHERIT)
    missing = [
        (mod, attr) for mod, attr in hooks
        if not callable(getattr(importlib.import_module(f"{spans.PKG}.{mod}"), attr, None))
    ]
    assert hooks and not missing, missing
