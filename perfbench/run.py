"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Generates the seed's inputs once (under
``.perfbench_work/data``), then starts ``worker.py`` in a fresh Python + JVM
process with its own TMPDIR and SPARK_LOCAL_DIRS, samples the resident
memory of that process tree from /proc, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics of a
traced run (``--trace 1``).  The line before it records the host.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "named_entity_discovery_and_linking_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("kg_batch", "curate")
DEFAULT_CORES = 4
TIME_LIMIT_S = 170  # a run must end within 180 s
DRIVER_MEM = "2g"
SAMPLE_S = 0.3  # memory sampling interval
sys.path.insert(0, HERE)

import procfs  # noqa: E402
from metrics import END_TO_END, per_layer_names  # noqa: E402


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def run_worker(args, data: str, run_dir: str) -> tuple[int, dict, float, float]:
    """Start the worker, sample its tree's memory until it exits; returns
    (exit code, PSS by command name at the peak of the total, wall seconds,
    host CPU steal seconds meanwhile).
    Every process of the worker's session is killed and reaped before
    returning, also when this process is interrupted or terminated."""
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=local, SPARK_DRIVER_MEM=DRIVER_MEM,
               PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable,
               SPARK_GRAFT_CPUS=str(args.cores), PYTHONHASHSEED="0")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(args.cores), "--data", data, "--run", run_dir,
           "--result", os.path.join(run_dir, "result.json")]
    t0, steal0 = time.time(), procfs.steal_s()
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=log,
                                start_new_session=True)
        peak = {}
        try:
            while proc.poll() is None:
                now = procfs.tree_pss_mb(proc.pid)
                if sum(now.values()) > sum(peak.values()):
                    peak = now
                if time.time() - T_START > TIME_LIMIT_S:
                    break
                time.sleep(SAMPLE_S)
        finally:
            _kill_session(proc)
    return proc.returncode, peak, time.time() - t0, procfs.steal_s() - steal0


def _kill_session(proc) -> None:
    """Terminate, then kill, the worker's process group until none of its
    session is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, sig)
        deadline = time.time() + 10
        while time.time() < deadline:
            if proc.poll() is not None and not procfs.session_alive(proc.pid):
                return
            time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help=f"local[N] (default min({DEFAULT_CORES}, nproc))")
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # unwind: kill the worker
    n = nproc()
    args.cores = args.cores or min(DEFAULT_CORES, n)
    if args.cores > n:
        ap.error(f"local[{args.cores}] exceeds nproc={n}")
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2

    sys.path.insert(1, ROOT)
    import gen

    data, _ = gen.ensure_inputs(os.path.join(WORK, "data"), args.workload, args.seed)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        rc, peak, wall, steal = run_worker(args, data, run_dir)
        res_path = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(res_path):
            with open(os.path.join(run_dir, "worker.log")) as fh:
                tail = fh.read()[-4000:]
            print(f"perfbench: worker exited with {rc}\n{tail}", file=sys.stderr)
            return 1
        with open(res_path) as fh:
            res = json.load(fh)
        spans_path = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans_path):
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.move(spans_path, os.path.join(WORK, "traces", os.path.basename(run_dir)
                                                 + ".spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for err in res.get("errors", []):
        print(f"perfbench: {err}", file=sys.stderr)
    host = {"nproc": n, "mem_total_mb": round(mem_total_mb()), "master": f"local[{args.cores}]",
            "spark": res.get("spark_version"), "java": res.get("java_version"),
            "python": sys.version.split()[0], "workload": args.workload, "seed": args.seed,
            "phases_s": res.get("phases"),
            "peak_pss_by_process_mb": {k: round(v) for k, v in peak.items()},
            "run_wall_s": round(wall, 3), "cpu_steal_s": round(steal, 2)}
    print(json.dumps({"host": host}))
    if args.trace:
        layers = res["layers"]
        metrics = {name: {"value": layers.get(name, 0.0), "unit": unit}
                   for name, unit in per_layer_names()}
    else:
        vals = dict(res, peak_rss_mb=sum(peak.values()))
        metrics = {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]} for m in END_TO_END}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
