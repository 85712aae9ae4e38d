"""The benchmark (``perfbench/``) drives the package from outside: the traced
run (``perfbench/spans.py``) wraps package functions by module attribute,
and the workloads (``perfbench/workloads.py``) call package functions and
the CLI.  A traced worker dies on any exception raised outside a timed
operation, so a renamed hook, a changed signature or a dropped CLI flag
must fail here, without Spark, rather than in a benchmark run."""

import importlib
import importlib.util
import inspect
import os
import re

import pytest

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "perfbench")
PKG = "named_entity_discovery_and_linking_spark"


def test_every_span_hook_resolves_on_the_package():
    spec = importlib.util.spec_from_file_location(
        "perfbench_spans", os.path.join(PERFBENCH, "spans.py"))
    spans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(spans)
    hooks = [h for funcs in spans.LAYERS.values() for h in funcs] + list(spans.INHERIT)
    missing = [
        (mod, attr) for mod, attr in hooks
        if not callable(getattr(importlib.import_module(f"{spans.PKG}.{mod}"), attr, None))
    ]
    assert hooks and not missing, missing


_ = object()  # stands in for a SparkSession, a DataFrame or a path

# (module, function, args, kwargs) of every package call in workloads.py
WORKLOAD_CALLS = [
    ("fixtures.generator", "kb_dfs", (_,), {}),
    ("operators.mentions", "discover_mentions", (_,), {}),
    ("operators.linking", "link_mentions", (_, _, _), {"promote": False}),
    ("plans.graph", "build_graph", (_, _), {}),
    ("streaming.stream_mentions", "stream_triples", (_, _, _, _, _, _),
     {"state_dir": _, "reconcile_every": 2, "incremental": True}),
]


@pytest.mark.parametrize("mod,func,args,kwargs", WORKLOAD_CALLS,
                         ids=[f"{m}.{f}" for m, f, _a, _k in WORKLOAD_CALLS])
def test_workload_calls_bind(mod, func, args, kwargs):
    fn = getattr(importlib.import_module(f"{PKG}.{mod}"), func)
    inspect.signature(fn).bind(*args, **kwargs)


def test_cli_parses_the_workload_flags():
    from named_entity_discovery_and_linking_spark.__main__ import _parser

    ap = _parser()
    with open(os.path.join(PERFBENCH, "workloads.py")) as fh:
        flags = set(re.findall(r'"(--[a-z][a-z-]*)"', fh.read()))
    assert flags and flags <= set(ap._option_string_actions), \
        flags - set(ap._option_string_actions)
    # the argv shapes workloads.py passes to main()
    for argv in (["--pages", "p", "--out", "o", "--buckets", "1"],
                 ["--takedown", "u.txt", "--out", "o", "--buckets", "1"],
                 ["--takedown", "u.txt", "--out", "o"],
                 ["--curate", "--pages", "p", "--out", "o", "--benchmark", "b",
                  "--sample-rate", "0.9"]):
        ap.parse_args(argv)
