"""Tests of the span recorder and the event-log attribution.

The recorded fixture (``data/tiny_eventlog.jsonl`` + ``data/tiny_spans.jsonl``)
comes from ``record_fixture.py``: a local[2] session with the recorder
installed, one wrapped ``write_table`` call nested in a ``linking`` span, one
unlabeled job, trimmed to the events the parser reads.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(1, os.path.dirname(os.path.dirname(HERE)))

import eventlog  # noqa: E402
import spans  # noqa: E402
from metrics import END_TO_END, per_layer_names  # noqa: E402

DATA = os.path.join(HERE, "data")


def _fixture():
    with open(os.path.join(DATA, "tiny_eventlog.jsonl")) as fh:
        log = eventlog.parse_event_log(fh)
    with open(os.path.join(DATA, "tiny_spans.jsonl")) as fh:
        sps = [json.loads(x) for x in fh]
    return log, sps


class FakeSc:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, k):
        return self.props.get(k)

    def setLocalProperty(self, k, v):
        if v is None:
            self.props.pop(k, None)
        else:
            self.props[k] = v


def test_recorder_nests_and_restores_label():
    clock = iter(range(100)).__next__
    sc = FakeSc()
    rec = spans.SpanRecorder("r", sc, clock=lambda: float(clock()))
    with rec.span("outer", "linking") as a:
        assert sc.props[spans.LABEL_KEY] == "r/0"
        with rec.span("inner", None) as b:
            assert sc.props[spans.LABEL_KEY] == "r/1"
        assert sc.props[spans.LABEL_KEY] == "r/0"
    assert spans.LABEL_KEY not in sc.props
    assert b["parent"] == a["id"] and b["layer"] == "linking"  # inherited
    with rec.paused():
        assert rec.wrap(lambda: 7, "f", "io")() == 7
    assert len(rec.spans) == 2


def test_install_wraps_by_name_imports_and_uninstalls():
    from named_entity_discovery_and_linking_spark.plans import lineage
    from named_entity_discovery_and_linking_spark.sources import io

    orig = io.write_table
    rec = spans.SpanRecorder("r")
    undo = spans.install(rec)
    try:
        assert io.write_table.__perfbench_original__ is orig
        assert lineage.write_table is io.write_table  # imported by name
    finally:
        spans.uninstall(undo)
    assert io.write_table is orig and lineage.write_table is orig


def test_parser_reads_recorded_run():
    log, sps = _fixture()
    assert len(log["jobs"]) >= 3
    assert all(j["ok"] and j["end"] >= j["start"] for j in log["jobs"].values())
    labels = {j["label"] for j in log["jobs"].values()}
    assert None in labels  # the unlabeled job
    assert {f"{s['run_id']}/{s['id']}" for s in sps} & labels
    assert log["tasks"] and all(t["run_s"] >= 0 for t in log["tasks"])


def test_layer_attribution_and_coverage():
    log, sps = _fixture()
    m = eventlog.layer_metrics(sps, log, ["linking", "io"])
    assert m["io.jobs"] >= 1 and m["linking.jobs"] >= 1
    assert m["io.rows_out"] == 100  # rows the wrapped write_table wrote
    assert m["io.tasks"] >= 1 and m["io.task_s"] >= 0
    assert 0 <= m["linking.driver_gap_s"] <= m["linking.self_s"]
    # the io span is nested in the linking span: inclusive vs self time
    assert abs(m["linking.wall_s"] - (m["linking.self_s"] + m["io.wall_s"])) < 1e-6
    lo = min(s["start"] for s in sps)
    hi = max(s["end"] for s in sps)
    cov = eventlog.coverage(sps, (lo - 1.0, hi + 1.0))
    assert abs(cov["ratio"] - 1.0) < 1e-9 and abs(cov["uncovered_s"] - 2.0) < 1e-6


def test_interval_helpers():
    assert eventlog._union_len([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog._subtract((0, 10), [(2, 3), (5, 12)]) == [(0, 2), (3, 5)]


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
        bj = json.load(fh)
    assert bj["end_to_end"] == END_TO_END
    assert [(m["name"], m["unit"]) for m in bj["per_layer"]] == per_layer_names()
    assert len(bj["per_layer"]) <= 128
