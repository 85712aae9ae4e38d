"""One timed (or traced) benchmark run in a fresh Python + JVM process.

Started by ``run.py`` with its own TMPDIR, SPARK_LOCAL_DIRS and working
directory; writes one JSON result file and exits.  Usage:

    python3 perfbench/worker.py --workload kg_batch --seed 1 --seconds 20 \
        --trace 0 --cores 4 --data DIR --run DIR --result FILE
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import sys
import time
import traceback

T_PROC = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import checks  # noqa: E402
import eventlog  # noqa: E402
import procfs  # noqa: E402
import spans  # noqa: E402


class Run:
    """Session handling, operation bookkeeping and failure accounting."""

    def __init__(self, args):
        self.args = args
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.rec = spans.SpanRecorder(f"r{os.getpid()}") if args.trace else None
        if self.rec:
            spans.install(self.rec)
        self.setup_s = 0.0
        self.op_iv: list[tuple[float, float]] = []
        self.phases: list[tuple] = []  # (what, wall s[, tree CPU s]) in run order
        self.spark = None

    def conf(self):
        c = {"spark.ui.showConsoleProgress": "false"}
        if self.args.trace:
            ev = os.path.join(self.args.run, "eventlog")
            os.makedirs(ev, exist_ok=True)
            c.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": ev,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
        return c

    def setup(self, t0):
        """Cold set-up from process start: Python and JVM launch, session
        start, package shipping and a warm-up read of the inputs."""
        from named_entity_discovery_and_linking_spark import session

        spark = session.get_spark("perfbench", master=f"local[{self.args.cores}]",
                                  extra_conf=self.conf())
        spark.sparkContext.setLogLevel("ERROR")
        if self.rec:
            self.rec.sc = spark.sparkContext
        spark.read.parquet(*checks.input_dirs(self.args.data)).count()
        self.setup_s = time.time() - t0
        self.phases.append(("setup", round(self.setup_s, 3)))
        self.spark = spark

    def op(self, fn, *a, layer=None, **kw):
        """Run one operation; an exception counts as a failed operation.
        ``layer`` names the layer a traced run charges the operation's own
        jobs to (the benchmark's action that forces a lazy result)."""
        self.attempted += 1
        c0 = procfs.tree_cpu_s(os.getpid())
        t0 = time.time()
        try:
            if self.rec is not None and layer is not None:
                with self.rec.span(f"{layer}.action", layer):
                    res = fn(*a, **kw)
            else:
                res = fn(*a, **kw)
        except Exception:  # a failing operation is recorded, not fatal
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=8))
            res = None
        t1 = time.time()
        cpu_s = procfs.tree_cpu_s(os.getpid()) - c0
        self.op_iv.append((t0, t1))
        self.phases.append((getattr(fn, "__name__", "op"), round(t1 - t0, 3), round(cpu_s, 2)))
        return res, t1 - t0

    def check(self, ok: bool, what: str):
        """A failed output check counts as a failed operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check failed: {what}")

    def untraced(self):
        """Context in which wrapped functions record no spans (checks)."""
        return self.rec.paused() if self.rec else contextlib.nullcontext()


def main(argv=None):
    ap = argparse.ArgumentParser()
    for k in ("workload", "data", "run", "result"):
        ap.add_argument(f"--{k}", required=True)
    for k in ("seed", "seconds", "trace", "cores"):
        ap.add_argument(f"--{k}", type=int, required=True)
    args = ap.parse_args(argv)

    import workloads

    run = Run(args)
    run.setup(T_PROC)
    with open(os.path.join(args.data, "manifest.json")) as fh:
        man = json.load(fh)
    wl = workloads.WORKLOADS[args.workload](run, man)
    deadline = time.time() + args.seconds
    while True:
        wl.step()
        if time.time() >= deadline or run.failed:
            break

    res = {"attempted": run.attempted, "failed": run.failed, "errors": run.errors[:5],
           "setup_s": run.setup_s, "phases": run.phases, **wl.metrics(),
           "spark_version": run.spark.version,
           "java_version": run.spark.sparkContext._jvm.System.getProperty("java.version")}
    if args.trace:
        run.spark.stop()
        res["layers"] = traced_layers(run, wl)
    with open(args.result, "w") as fh:
        json.dump(res, fh)
    run.spark.stop()
    return 0


def traced_layers(run, wl) -> dict:
    """Per-layer metrics from the recorded spans and the event log."""
    files = sorted(glob.glob(os.path.join(run.args.run, "eventlog", "*")))

    def lines():
        for f in files:
            with open(f) as fh:
                yield from fh

    log = eventlog.parse_event_log(lines())
    rec = run.rec
    rec.dump(os.path.join(run.args.run, "spans.jsonl"))
    out = eventlog.layer_metrics(rec.spans, log, list(spans.LAYERS))
    out.update(wl.layer_values())
    cov_self = cov_unc = cov_wall = 0.0
    for t0, t1 in run.op_iv:
        inside = [sp for sp in rec.spans if sp["start"] >= t0 and sp["end"] <= t1]
        c = eventlog.coverage(inside, (t0, t1))
        cov_self += c["self_s"]
        cov_unc += c["uncovered_s"]
        cov_wall += t1 - t0
    by_id = {sp["id"]: sp for sp in rec.spans}
    out["reconcile.runs"] = sum(
        1 for sp in rec.spans if sp["layer"] == "reconcile"
        and (sp["parent"] is None or by_id[sp["parent"]]["layer"] != "reconcile"))
    labels = {rec.label(sp["id"]) for sp in rec.spans}
    out["trace.wall_s"] = cov_wall
    out["trace.uncovered_s"] = cov_unc
    out["trace.coverage_ratio"] = (cov_self + cov_unc) / cov_wall if cov_wall else 0.0
    out["trace.unlabeled_jobs"] = sum(
        1 for j in log["jobs"].values()
        if j["label"] not in labels and any(t0 <= j["start"] <= t1 for t0, t1 in run.op_iv))
    return out


if __name__ == "__main__":
    sys.exit(main())
