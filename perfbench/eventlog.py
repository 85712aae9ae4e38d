"""Spark event-log parser and per-layer attribution for the traced run.

Jobs carry the ``perfbench.span`` local property of the innermost span open
when they were submitted (see ``spans.py``); stages carry the same property
in their submission event, and tasks belong to their stage.  Work that a
lazy DataFrame defers to a later action is therefore charged to the span of
that action (the sink), not to the function that built the plan.
"""

from __future__ import annotations

import json
from collections import defaultdict

from spans import LABEL_KEY  # noqa: E402  (perfbench/ is on sys.path)

COUNTERS = ("wall_s", "self_s", "jobs", "tasks", "task_s", "gc_s",
            "shuffle_bytes", "spill_bytes", "driver_gap_s", "rows_out")


def parse_event_log(lines) -> dict:
    """Jobs, stage labels and task metrics from an iterable of event-log
    lines (one JSON event per line).  Several applications may follow each
    other (one per SparkContext); job and stage ids are keyed by
    ``(application number, id)`` because each application restarts them."""
    jobs: dict[tuple, dict] = {}
    stage_label: dict[tuple, str | None] = {}
    tasks: list[dict] = []
    app = 0
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerApplicationStart":
            app += 1
        elif kind == "SparkListenerJobStart":
            label = (ev.get("Properties") or {}).get(LABEL_KEY)
            jobs[(app, ev["Job ID"])] = {
                "start": ev["Submission Time"] / 1000.0, "end": None,
                "label": label, "ok": None,
            }
            for sid in ev.get("Stage IDs", []):
                stage_label.setdefault((app, sid), label)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get((app, ev["Job ID"]))
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
                job["ok"] = ev.get("Job Result", {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerStageSubmitted":
            sid = (app, ev["Stage Info"]["Stage ID"])
            label = (ev.get("Properties") or {}).get(LABEL_KEY)
            if label is not None:
                stage_label[sid] = label
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            out = m.get("Output Metrics") or {}
            tasks.append({
                "stage": (app, ev["Stage ID"]),
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_bytes": sw.get("Shuffle Bytes Written", 0)
                + sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "spill_bytes": m.get("Disk Bytes Spilled", 0),
                "records_written": out.get("Records Written", 0),
            })
    return {"jobs": jobs, "stage_label": stage_label, "tasks": tasks}


def _union_len(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _subtract(base, holes):
    """Parts of the interval ``base`` not covered by any interval in holes."""
    out = [base]
    for hs, he in sorted(holes):
        nxt = []
        for s, e in out:
            if he <= s or hs >= e:
                nxt.append((s, e))
                continue
            if hs > s:
                nxt.append((s, hs))
            if he < e:
                nxt.append((he, e))
        out = nxt
    return out


def layer_metrics(spans: list[dict], log: dict, layers) -> dict:
    """Per-layer counters (``<layer>.<counter>``) from spans and a parsed
    event log.  ``rows_out`` is left at 0 except for rows written by the
    layer's own jobs; callers overwrite it where outputs say more.

    * ``wall_s``: time inside the layer's outermost spans (a span nested in
      a span of the same layer is not counted twice);
    * ``self_s``: span time not covered by child spans; summed over all
      layers plus ``driver`` gaps between root spans it equals the wall;
    * ``jobs``/``tasks``/``task_s``/``gc_s``/``shuffle_bytes``/
      ``spill_bytes``: Spark work whose label is one of the layer's spans;
    * ``driver_gap_s``: self time during which no Spark job was running.
    """
    by_id = {sp["id"]: sp for sp in spans}
    children = defaultdict(list)
    for sp in spans:
        if sp["parent"] is not None:
            children[sp["parent"]].append(sp)
    label_layer = {f"{sp['run_id']}/{sp['id']}": sp["layer"] for sp in spans}
    job_iv = [(j["start"], j["end"]) for j in log["jobs"].values() if j["end"] is not None]

    out = {f"{layer}.{c}": 0.0 for layer in layers for c in COUNTERS}
    for sp in spans:
        layer = sp["layer"]
        if layer not in layers:
            continue
        dur = sp["end"] - sp["start"]
        anc, nested = sp["parent"], False
        while anc is not None:
            if by_id[anc]["layer"] == layer:
                nested = True
                break
            anc = by_id[anc]["parent"]
        if not nested:
            out[f"{layer}.wall_s"] += dur
        self_iv = _subtract((sp["start"], sp["end"]),
                            [(c["start"], c["end"]) for c in children[sp["id"]]])
        self_s = sum(e - s for s, e in self_iv)
        out[f"{layer}.self_s"] += self_s
        covered = sum(_union_len([(max(s, js), min(e, je)) for js, je in job_iv
                                  if js < e and je > s]) for s, e in self_iv)
        out[f"{layer}.driver_gap_s"] += self_s - covered

    for job in log["jobs"].values():
        layer = label_layer.get(job["label"])
        if layer in layers:
            out[f"{layer}.jobs"] += 1
    for t in log["tasks"]:
        layer = label_layer.get(log["stage_label"].get(t["stage"]))
        if layer not in layers:
            continue
        out[f"{layer}.tasks"] += 1
        out[f"{layer}.task_s"] += t["run_s"]
        out[f"{layer}.gc_s"] += t["gc_s"]
        out[f"{layer}.shuffle_bytes"] += t["shuffle_bytes"]
        out[f"{layer}.spill_bytes"] += t["spill_bytes"]
        out[f"{layer}.rows_out"] += t["records_written"]
    return out


def coverage(spans: list[dict], wall: tuple[float, float]) -> dict:
    """Self time of every span plus the traced wall's time outside all root
    spans; ``ratio`` is that sum over the wall (1.0 when spans nest)."""
    by_parent = defaultdict(list)
    for sp in spans:
        by_parent[sp["parent"]].append(sp)
    self_total = 0.0
    for sp in spans:
        iv = _subtract((sp["start"], sp["end"]),
                       [(c["start"], c["end"]) for c in by_parent[sp["id"]]])
        self_total += sum(e - s for s, e in iv)
    roots = [(max(sp["start"], wall[0]), min(sp["end"], wall[1]))
             for sp in by_parent[None] if sp["end"] > wall[0] and sp["start"] < wall[1]]
    uncovered = (wall[1] - wall[0]) - _union_len(roots)
    total = wall[1] - wall[0]
    return {"self_s": self_total, "uncovered_s": uncovered,
            "ratio": (self_total + uncovered) / total if total > 0 else 0.0}
