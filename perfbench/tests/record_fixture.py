"""Record the tiny traced run that ``test_trace.py`` reads.

    python3 perfbench/tests/record_fixture.py

Starts a local[2] session with the event log on and the span recorder
installed, runs one ``linking`` span that calls the wrapped
``sources.io.write_table`` (100 rows) plus one job of its own, and one
unlabeled job; then keeps only the events and properties the parser reads.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(1, os.path.dirname(os.path.dirname(HERE)))

import spans  # noqa: E402

KEEP = {"SparkListenerJobStart", "SparkListenerJobEnd",
        "SparkListenerStageSubmitted", "SparkListenerTaskEnd"}


def _trim(ev: dict) -> dict:
    kind = ev["Event"]
    out = {"Event": kind}
    props = {k: v for k, v in (ev.get("Properties") or {}).items() if k == spans.LABEL_KEY}
    if kind == "SparkListenerJobStart":
        out.update({k: ev[k] for k in ("Job ID", "Submission Time", "Stage IDs")})
        out["Properties"] = props
    elif kind == "SparkListenerJobEnd":
        out.update({k: ev[k] for k in ("Job ID", "Completion Time", "Job Result")})
    elif kind == "SparkListenerStageSubmitted":
        out["Stage Info"] = {"Stage ID": ev["Stage Info"]["Stage ID"]}
        out["Properties"] = props
    else:
        m = ev.get("Task Metrics") or {}
        keep = ("Executor Run Time", "JVM GC Time", "Disk Bytes Spilled",
                "Shuffle Read Metrics", "Shuffle Write Metrics", "Output Metrics")
        out.update({"Stage ID": ev["Stage ID"],
                    "Task Info": {"Failed": ev["Task Info"]["Failed"]},
                    "Task Metrics": {k: m[k] for k in keep if k in m}})
    return out


def main() -> int:
    from named_entity_discovery_and_linking_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="perfbench-fixture-")
    ev_dir = os.path.join(work, "ev")
    os.makedirs(ev_dir)
    spark = get_spark("perfbench-fixture", master="local[2]", extra_conf={
        "spark.ui.showConsoleProgress": "false", "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": ev_dir, "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false"})
    rec = spans.SpanRecorder("fixture", spark.sparkContext)
    undo = spans.install(rec)
    try:
        from named_entity_discovery_and_linking_spark.sources import io

        spark.range(10).count()  # unlabeled
        with rec.span("linking.fixture", "linking"):
            df = spark.range(100).selectExpr("id", "id % 7 AS k")
            df.groupBy("k").count().collect()
            io.write_table(df, os.path.join(work, "t"))
    finally:
        spans.uninstall(undo)
        spark.stop()
    data = os.path.join(HERE, "data")
    os.makedirs(data, exist_ok=True)
    (log_file,) = glob.glob(os.path.join(ev_dir, "*"))
    with open(log_file) as src, open(os.path.join(data, "tiny_eventlog.jsonl"), "w") as dst:
        for line in src:
            ev = json.loads(line)
            if ev.get("Event") in KEEP:
                dst.write(json.dumps(_trim(ev), sort_keys=True) + "\n")
    rec.dump(os.path.join(data, "tiny_spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
