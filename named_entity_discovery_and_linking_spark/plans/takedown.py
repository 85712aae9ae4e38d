"""URL takedown propagation across the materialized KG tables.

The operation a web-scale KG actually faces (right-to-be-forgotten /
robots-retroactive / DMCA): given a set of urls, remove every derived row
from the output tables.  The reference has no analog (its corpus is a
static LDC package); the north_rule's Iceberg framing does — on Iceberg
this is ``DELETE FROM t WHERE url IN (...)``, a snapshot-atomic
metadata+delete-file commit.  This module is the parquet emulation with
the same scale posture:

* **One rewrite for every layout** (flat, ``bucket=`` or
  ``batch_id=``/``pred=``): the per-url accounting scan groups each
  table's matched rows by the partition dir of the file they sit in
  (``_metadata.file_path``), and only those dirs are rewritten, in one
  write per table (tmp + rename swap).  Work is O(affected dirs), not
  O(table): a flat table is one dir, and a table with no matched row is
  not rewritten.  No hash is recomputed, so the takedown needs no knowledge
  of how the build placed its rows.
* **Stream state** (``_stream_state/mentions``, ``/links`` of a
  ``--stream --reconcile-every`` out dir): rewritten by the same rule.  The
  stream reconciler's group-level partials cannot un-fold a removed
  row, so a takedown that removes one deletes ``_stream_state/reconcile``
  and the next pass folds the remaining batches from scratch.
* **nodes GC**: nodes carry no url; a node whose every supporting edge
  was removed is an orphan.  One left-anti count against the surviving
  edges' dst set finds the orphans, and ``nodes`` is rewritten (left-semi
  join, tmp + swap) only when there is one.
* **Concurrency**: the url tables do not depend on each other, so each
  table's read, accounting scan, reconcile-state reset and rewrite + swap
  run as one task on a driver thread pool, one thread per table present
  (a takedown of tiny tables is job latency, which the threads overlap).
  The tasks inherit the caller's local properties (job group, labels).
  The claim is held until every task has ended; a task's error is raised
  after every task has ended, and the claim is still released.  Each
  stream-state task deletes ``_stream_state/reconcile`` before it
  rewrites a row (a second delete is a no-op).  The nodes GC and the
  N-Triples regeneration read the rewritten ``edges`` and ``triples``, so
  they run after the pool, on the calling thread.

The takedown set rides an IN-set filter everywhere (it is a bounded
control-plane set read on the driver, like the lineage bucket ids).  A claim file fences
concurrent takedowns/compactions on the same root (same primitive as
sources/fs.py lineage fencing); readers racing a swap on plain parquet
can observe a missing-directory beat — documented emulation semantics
(sources/io.py:compact_table has the same caveat).  A metrics record
("takedown" stage, plans/metrics.py) is written when a lineage dir
exists, so the removal is auditable.
"""

from __future__ import annotations

import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import unquote

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from ..sources.fs import get_filesystem

# the per-batch state a ``--stream --reconcile-every`` run keeps under its
# out dir; its ``reconcile`` subdir holds the stream reconciler's state
STREAM_STATE = "_stream_state"

# tables rewritten by url; nodes handled separately (GC pass).  Tables
# missing from the output root, or without a url column
# (curation_report), are skipped.
URL_TABLES = ("mentions", "kb_links", "links", "triples", "edges",
              "curation_flags", "curated",
              f"{STREAM_STATE}/mentions", f"{STREAM_STATE}/links")


def _swap_dirs(fs, live: str, tmp: str) -> None:
    """Replace ``live`` with ``tmp`` (which may not exist when every row
    of the live dir was removed)."""
    old = live.rstrip("/") + ".__takedown_old"
    fs.rmtree(old)
    fs.rename(live, old)
    if fs.exists(tmp):
        fs.rename(tmp, live)
    fs.rmtree(old)


def _leaf_dir(table: str) -> F.Column:
    """The partition dir of a row's file relative to ``table``'s root:
    the ``key=value`` components between the table dir and the file
    (empty for a flat table), still URL-encoded as Spark reports them."""
    name = table.rsplit("/", 1)[-1]
    return F.regexp_extract("_metadata.file_path",
                            rf"^.*/{name}((?:/[^/]*=[^/]*)*)/[^/]*$", 1)


def _rewrite_leaves(spark: SparkSession, fs, path: str, schema: StructType,
                    leaves: list[tuple[str, ...]], keep: F.Column) -> None:
    """Keep the rows matching ``keep`` in the partition dirs ``leaves``
    (each a tuple of ``key=value`` names; ``()`` is a flat table's root)
    of the table at ``path``, whose read ``schema`` is given, in one
    partitioned write to a tmp dir, then swap each of them in."""
    tmp = path.rstrip("/") + ".__takedown_tmp"
    fs.rmtree(tmp)
    part_cols = [c.split("=", 1)[0] for c in leaves[0]]
    spark.read.schema(schema).option("basePath", fs.spark_path(path)).parquet(
        *(fs.spark_path(fs.join(path, *leaf)) for leaf in leaves)
    ).filter(keep).write.mode("overwrite").partitionBy(*part_cols).parquet(fs.spark_path(tmp))
    for leaf in leaves:
        _swap_dirs(fs, fs.join(path, *leaf), fs.join(tmp, *leaf))
    fs.rmtree(tmp)


def _gc_nodes(spark: SparkSession, fs, nodes_path: str, edges_path: str) -> int:
    """Drop nodes no surviving edge references (orphans after removal).
    The orphans are counted on every call, so a rerun after a crash still
    drops them; ``nodes`` is rewritten only when there is one."""
    nodes = spark.read.parquet(fs.spark_path(nodes_path))
    live_eids = (
        spark.read.parquet(fs.spark_path(edges_path))
        .select(F.col("dst").alias("node_id")).distinct()
    )
    n_orphans = nodes.join(live_eids, "node_id", "left_anti").count()
    if n_orphans:
        tmp = nodes_path.rstrip("/") + ".__takedown_tmp"
        fs.rmtree(tmp)
        nodes.join(live_eids, "node_id", "left_semi").write.mode("overwrite").parquet(
            fs.spark_path(tmp))
        _swap_dirs(fs, nodes_path, tmp)
    return n_orphans


def _takedown_table(spark: SparkSession, fs, out_dir: str, table: str,
                    hit: F.Column) -> tuple[Counter, int]:
    """Remove the rows matching ``hit`` from the url table ``table``.
    Returns the removed rows per matched url and the number of partition
    dirs rewritten."""
    path = fs.join(out_dir, table)
    per_url: Counter = Counter()
    # Spark's rule: an entry starting with "_" or "." is no data.  A table
    # with nothing else (a stage that wrote no row) has nothing to remove
    # and no schema to read.
    if not any(not n.startswith(("_", ".")) for n in fs.listdir(path)):
        return per_url, 0
    df = spark.read.parquet(fs.spark_path(path))
    if "url" not in df.columns:
        return per_url, 0
    # per-url match accounting (advisor r6 #4): a requested url that
    # normalize_url would collapse differently matches nothing — surface
    # that instead of silently removing zero rows.  The same scan finds the
    # dirs to rewrite.  Bounded: one row per request url and dir.
    leaves = set()
    for r in (
        df.filter(hit).groupBy("url", _leaf_dir(table).alias("leaf"))
        .count().collect()
    ):
        per_url[r["url"]] += r["count"]
        leaves.add(tuple(unquote(c) for c in r["leaf"].split("/")[1:]))
    if leaves:
        if table.startswith(STREAM_STATE):
            # dropped before the rows, so a rerun after a crash drops it
            fs.rmtree(fs.join(out_dir, STREAM_STATE, "reconcile"))
        # a null url matches no takedown url: its row stays
        _rewrite_leaves(spark, fs, path, df.schema, sorted(leaves),
                        ~F.coalesce(hit, F.lit(False)))
    return per_url, len(leaves)


def takedown_urls(spark: SparkSession, out_dir: str, urls: list[str]) -> dict:
    """Remove every row derived from ``urls`` from the materialized tables
    under ``out_dir``.  Returns ``{table: rows_removed}`` (tables missing
    from the output root are skipped).

    Whatever a table's layout (flat, or partitioned by ``bucket`` or by
    ``batch_id``/``pred``), only the partition dirs holding a matched row
    are rewritten, and they keep their layout; the dirs come from the
    matched rows' files, so the call takes no build parameter.

    Canonicalization caveat: removing a document can change sameAs
    clusters (a bridge mention may be gone).  This pass removes the rows;
    cluster REASSIGNMENT happens on the next reconcile/build, exactly like
    the streaming reconciler's periodic closure (streaming/reconcile.py).
    """
    fs = get_filesystem(out_dir)
    per_url: dict[str, int] = dict.fromkeys(urls, 0)
    if not per_url:
        return {}
    hit = F.col("url").isin(list(per_url))

    claim = fs.join(out_dir, ".__takedown_claim")
    if not fs.try_create_claim(claim, "takedown"):
        raise RuntimeError(f"another takedown holds {claim}")
    t0 = time.time()
    removed: dict[str, int] = {}
    n_dirs = 0
    try:
        tables = [t for t in URL_TABLES if fs.exists(fs.join(out_dir, t))]
        # wrapped here, so the tasks capture this thread's local properties
        task = inheritable_thread_target(spark)(_takedown_table)
        with ThreadPoolExecutor(max_workers=max(len(tables), 1)) as pool:
            futures = [pool.submit(task, spark, fs, out_dir, t, hit) for t in tables]
        # every task has ended here; the first failed table's error is raised
        for table, fut in zip(tables, futures):
            counts, dirs = fut.result()
            for url, n in counts.items():
                per_url[url] += n
            removed[table] = sum(counts.values())
            n_dirs += dirs
        nodes_path = fs.join(out_dir, "nodes")
        edges_path = fs.join(out_dir, "edges")
        if fs.exists(nodes_path) and fs.exists(edges_path):
            removed["nodes"] = _gc_nodes(spark, fs, nodes_path, edges_path)
        # the N-Triples export is DERIVED from the triples table (one line
        # per row); leaving it stale would let taken-down content survive a
        # "successful" takedown in a materialized artifact (advisor r6 #1).
        nt_path = fs.join(out_dir, "triples_nt")
        tri_path = fs.join(out_dir, "triples")
        if fs.exists(nt_path) and fs.exists(tri_path):
            from ..sources.io import write_ntriples
            from .metrics import observe

            n_nt_before = spark.read.text(fs.spark_path(nt_path)).count()
            tmp_nt = nt_path.rstrip("/") + ".__takedown_tmp"
            fs.rmtree(tmp_nt)
            # one line per triples row: the write counts the new export
            triples, seen = observe(spark.read.parquet(fs.spark_path(tri_path)),
                                    "takedown_ntriples", F.count(F.lit(1)).alias("n"))
            write_ntriples(triples, fs.spark_path(tmp_nt))
            _swap_dirs(fs, nt_path, tmp_nt)
            removed["triples_nt"] = n_nt_before - seen.get["n"]
    finally:
        fs.break_claim_if(claim, "takedown")

    unmatched = sorted(u for u, n in per_url.items() if n == 0)
    if unmatched:
        print(
            f"takedown: {len(unmatched)} url(s) matched 0 rows in every table "
            f"(check canonicalization — raw tables store the url as crawled): "
            + ", ".join(unmatched[:20])
        )
    removed["urls_unmatched"] = len(unmatched)

    lineage_dir = fs.join(out_dir, "_lineage")
    if fs.exists(lineage_dir):
        from .metrics import write_stage_metrics

        write_stage_metrics(
            lineage_dir, f"takedown-{int(t0)}", "takedown",
            wall_s=time.time() - t0, n_buckets=n_dirs,
            # rows of tables only: urls_unmatched counts urls, and the
            # triples_nt lines are the triples rows again
            n_rows=sum(v for k, v in removed.items()
                       if k not in ("urls_unmatched", "triples_nt")),
            extra=removed,
        )
    return removed
