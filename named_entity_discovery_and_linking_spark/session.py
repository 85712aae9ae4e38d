"""SparkSession factory with scale-appropriate defaults.

The reference is a sequential single-process pipeline (main.py:341-346 —
the ThreadPool variant is commented out).  Here parallelism comes from Spark;
these configs are the knobs the north_rule calls out explicitly: AQE with
skew-join handling, explicit shuffle partitions, Arrow-batched UDFs.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import threading

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "ndl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this pipeline.

    Notes on the choices (these matter at 100 TB, not at fixture scale):

    - AQE on, with coalescing + skew-join splitting: candidate-generation
      joins key on mention text; web corpora have hot names (skew).
    - ``spark.sql.shuffle.partitions`` defaults to 2x cores locally; on a
      real cluster set it ~2-3x total executor cores via spark-submit conf.
    - Arrow enabled for all pandas UDF exchange; batch size bounded so that
      model-inference stages (mapInPandas) see bounded memory.
    """
    cores = default_parallelism()
    master = master or f"local[{cores}]"
    shuffle = shuffle_partitions or max(2 * cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # respect the advisory partition size when coalescing instead of
        # padding every post-shuffle stage back up to defaultParallelism
        # (parallelismFirst=true, the default, schedules ~cores tasks per
        # stage even for KB-sized frames — measured ~0.5 s of pure task-launch
        # overhead PER STAGE on local[32])...
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # ...BUT this pipeline's shuffles carry narrow rows with heavy
        # per-row compute (levenshtein verify, window sorts, array math):
        # at the default 64 MB advisory a 100-MB-but-CPU-bound stage
        # coalesces to ~2 partitions and starves the cores (measured 2->8
        # scaling eff 0.37 at 2.56M pages).  4 MB keeps KB-scale dimension
        # stages at 1 task while giving data-scale stages core-saturating
        # partition counts.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def materialize(df, tag: str = "stage"):
    """Stage-boundary materialization via a parquet spill: plan truncation
    like ``localCheckpoint()`` but SERIALIZED columnar storage instead of
    deserialized JVM object caching.  localCheckpoint's MEMORY_AND_DISK
    object store measured ~50% of task time in GC on multi-million-row
    frames (event log: 107 s JVM GC inside an 84 s checkpoint stage);
    a parquet roundtrip keeps the heap flat and reads back vectorized.
    Use for DATA-scale frames; keep localCheckpoint for dimension-scale
    ones (the write+read costs two jobs).  On a cluster this is the
    standard persisted-stage pattern (checkpoint dir / table handoff)."""
    import uuid

    path = os.path.join(
        os.environ.get("TMPDIR", "/tmp"),
        f"ndl-mat-{os.getpid()}-{tag}-{uuid.uuid4().hex[:8]}",
    )
    df.write.parquet(path)
    getattr(_SCOPE, "paths", _MATERIALIZED).append(path)
    # pass the known schema: skips the read-side schema-inference job
    # (driver-only footer sampling) that otherwise runs per materialization
    return df.sparkSession.read.schema(df.schema).parquet(path)


_MATERIALIZED: list = []
_SCOPE = threading.local()


@contextlib.contextmanager
def spill_scope():
    """Delete, on leaving the block, the spills ``materialize`` wrote in it
    on this thread; a long-lived caller (a stream's micro-batch) would
    otherwise keep every batch's spills until the process exits.  Frames
    read from them must not be used after the block."""
    _SCOPE.paths = paths = []
    try:
        yield
    finally:
        del _SCOPE.paths
        for p in paths:
            shutil.rmtree(p, ignore_errors=True)


def _cleanup_materialized() -> None:  # pragma: no cover - process teardown
    for p in _MATERIALIZED:
        shutil.rmtree(p, ignore_errors=True)


import atexit  # noqa: E402

atexit.register(_cleanup_materialized)


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the spark-submit --py-files contract
    from BASELINE.json north_star).  Without it, any driver started outside
    the repo root fails to unpickle mapInPandas closures on the workers
    (ModuleNotFoundError).  Idempotent per session."""
    import zipfile

    if getattr(spark, "_ndl_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), f"{pkg_name}-{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.join(pkg_name, os.path.relpath(full, pkg_dir)))
    spark.sparkContext.addPyFile(zip_path)
    spark._ndl_pkg_shipped = True
