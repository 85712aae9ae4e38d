"""URL takedown propagation across the materialized KG tables.

The operation a web-scale KG actually faces (right-to-be-forgotten /
robots-retroactive / DMCA): given a set of urls, remove every derived row
from the output tables.  The reference has no analog (its corpus is a
static LDC package); the north_rule's Iceberg framing does — on Iceberg
this is ``DELETE FROM t WHERE url IN (...)``, a snapshot-atomic
metadata+delete-file commit.  This module is the parquet emulation with
the same scale posture:

* **Bucket-partitioned tables** (``mentions``, ``kb_links`` — the lineage
  stage outputs): the takedown set maps to its url-hash buckets, the scan
  is partition-pruned to exactly those buckets, and only those bucket
  directories are rewritten (tmp + rename swap).  Work is O(affected
  buckets), not O(table) — at 10^12 documents a thousand-url takedown
  touches at most a thousand of the table's buckets.
* **Unpartitioned tables** (``links``, ``triples``, ``edges``): full
  anti-join rewrite through a tmp dir + swap — the documented emulation
  of Iceberg's delete-by-filter (at 100 TB you run Iceberg and never
  rewrite the table).
* **nodes GC**: nodes carry no url; a node whose every supporting edge
  was removed is an orphan and is dropped by a left-semi join against the
  surviving edges' dst set.

The takedown set rides a broadcast anti-join everywhere (it is a bounded
control-plane set, like the lineage bucket ids).  A claim file fences
concurrent takedowns/compactions on the same root (same primitive as
sources/fs.py lineage fencing); readers racing a swap on plain parquet
can observe a missing-directory beat — documented emulation semantics
(sources/io.py:compact_table has the same caveat).  A metrics record
("takedown" stage, plans/metrics.py) is written when a lineage dir
exists, so the removal is auditable.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..sources.fs import get_filesystem

# tables rewritten by url; nodes handled separately (GC pass).  Tables
# missing from the output root, or without a url column
# (curation_report), are skipped.
URL_TABLES = ("mentions", "kb_links", "links", "triples", "edges",
              "curation_flags", "curated")


def _affected_buckets(urls_df: DataFrame, n_buckets: int) -> list[int]:
    """Bucket ids the takedown set hashes into — MUST mirror
    sources/io.py:bucketize so pruning hits the right partitions."""
    rows = urls_df.select(
        F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int").alias("bucket")
    ).distinct().collect()
    return sorted(r["bucket"] for r in rows)


def _is_bucket_partitioned(fs, path: str) -> bool:
    return any(d.startswith("bucket=") for d in fs.listdir(path))


def _swap_dirs(fs, live: str, tmp: str) -> None:
    """Replace ``live`` with ``tmp`` (which may not exist when every row
    of the live dir was removed)."""
    old = live.rstrip("/") + ".__takedown_old"
    fs.rmtree(old)
    fs.rename(live, old)
    if fs.exists(tmp):
        fs.rename(tmp, live)
    fs.rmtree(old)


def _rewrite_table(spark: SparkSession, fs, path: str, df: DataFrame,
                   urls_df: DataFrame, n_buckets: int) -> int:
    """Anti-join ``urls_df`` out of ``df``, the table at ``path``; returns
    rows removed.  Bucket-partitioned layout -> only affected bucket dirs
    are rewritten; flat layout -> whole-dir swap."""
    tmp = path.rstrip("/") + ".__takedown_tmp"
    fs.rmtree(tmp)
    if _is_bucket_partitioned(fs, path):
        buckets = _affected_buckets(urls_df, n_buckets)
        sub = df.filter(F.col("bucket").isin(buckets))  # partition-pruned
        n_before = sub.count()
        kept = sub.join(broadcast(urls_df), "url", "left_anti")
        # partition columns must be written explicitly; bucket came back
        # as the partition column of the pruned read
        kept.write.mode("overwrite").partitionBy("bucket") \
            .parquet(fs.spark_path(tmp))
        n_after = (
            spark.read.schema(sub.schema).parquet(fs.spark_path(tmp)).count()
            if fs.exists(tmp) else 0
        )
        for b in buckets:
            live_b = fs.join(path, f"bucket={b}")
            tmp_b = fs.join(tmp, f"bucket={b}")
            if fs.exists(live_b):
                _swap_dirs(fs, live_b, tmp_b)
        fs.rmtree(tmp)
        return n_before - n_after
    n_before = df.count()
    kept = df.join(broadcast(urls_df), "url", "left_anti")
    kept.write.mode("overwrite").parquet(fs.spark_path(tmp))
    n_after = spark.read.schema(df.schema).parquet(fs.spark_path(tmp)).count()
    _swap_dirs(fs, path, tmp)
    return n_before - n_after


def _gc_nodes(spark: SparkSession, fs, nodes_path: str, edges_path: str) -> int:
    """Drop nodes no surviving edge references (orphans after removal)."""
    nodes = spark.read.parquet(fs.spark_path(nodes_path))
    live_eids = (
        spark.read.parquet(fs.spark_path(edges_path))
        .select(F.col("dst").alias("node_id")).distinct()
    )
    kept = nodes.join(live_eids, "node_id", "left_semi")
    n_before = nodes.count()
    tmp = nodes_path.rstrip("/") + ".__takedown_tmp"
    fs.rmtree(tmp)
    kept.write.mode("overwrite").parquet(fs.spark_path(tmp))
    n_after = spark.read.schema(nodes.schema).parquet(fs.spark_path(tmp)).count()
    _swap_dirs(fs, nodes_path, tmp)
    return n_before - n_after


def takedown_urls(spark: SparkSession, out_dir: str, urls: list[str] | DataFrame,
                  n_buckets: int = 64) -> dict:
    """Remove every row derived from ``urls`` from the materialized tables
    under ``out_dir``.  Returns ``{table: rows_removed}`` (tables missing
    from the output root are skipped).

    ``n_buckets`` must match the value the tables were built with (the
    ``--buckets`` CLI arg), or the bucket pruning misses partitions.

    Canonicalization caveat: removing a document can change sameAs
    clusters (a bridge mention may be gone).  This pass removes the rows;
    cluster REASSIGNMENT happens on the next reconcile/build, exactly like
    the streaming reconciler's periodic closure (streaming/reconcile.py).
    """
    fs = get_filesystem(out_dir)
    urls_df = (
        urls.select("url") if isinstance(urls, DataFrame)
        else spark.createDataFrame([(u,) for u in urls], "url string")
    ).distinct().localCheckpoint()
    if urls_df.limit(1).count() == 0:
        return {}

    claim = fs.join(out_dir, ".__takedown_claim")
    if not fs.try_create_claim(claim, "takedown"):
        raise RuntimeError(f"another takedown holds {claim}")
    t0 = time.time()
    removed: dict[str, int] = {}
    per_url: dict[str, int] = {r["url"]: 0 for r in urls_df.collect()}
    try:
        for table in URL_TABLES:
            path = fs.join(out_dir, table)
            if not fs.exists(path):
                continue
            # Spark's rule: an entry starting with "_" or "." is no data.  A
            # table with nothing else (a stage that wrote no row) has
            # nothing to remove and no schema to read.
            df = (spark.read.parquet(fs.spark_path(path)) if any(
                not n.startswith(("_", ".")) for n in fs.listdir(path)) else None)
            if df is None or "url" not in df.columns:
                removed[table] = 0
                continue
            # per-url match accounting (advisor r6 #4): a requested url that
            # normalize_url would collapse differently matches nothing —
            # surface that instead of silently removing zero rows.
            # Bounded: one row per request url.
            for r in (
                df.join(broadcast(urls_df), "url", "left_semi")
                .groupBy("url").count().collect()
            ):
                per_url[r["url"]] += int(r["count"])
            removed[table] = _rewrite_table(spark, fs, path, df, urls_df, n_buckets)
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

            n_nt_before = spark.read.text(fs.spark_path(nt_path)).count()
            tmp_nt = nt_path.rstrip("/") + ".__takedown_tmp"
            fs.rmtree(tmp_nt)
            write_ntriples(
                spark.read.parquet(fs.spark_path(tri_path)), fs.spark_path(tmp_nt)
            )
            n_nt_after = spark.read.text(fs.spark_path(tmp_nt)).count()
            _swap_dirs(fs, nt_path, tmp_nt)
            removed["triples_nt"] = n_nt_before - n_nt_after
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
            wall_s=time.time() - t0, n_buckets=n_buckets,
            # rows of tables only: urls_unmatched counts urls, and the
            # triples_nt lines are the triples rows again
            n_rows=sum(v for k, v in removed.items()
                       if k not in ("urls_unmatched", "triples_nt")),
            extra=removed,
        )
    return removed
