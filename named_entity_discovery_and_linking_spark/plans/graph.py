"""E3: links + entity assignment -> triples / nodes / edges; ``kg_build`` (E1-E3).

The reference serializes per-mention ``xref`` records into CSR JSON
(linking.py:557-700); our comparison surface is an explicit triples table
(SURVEY.md §1.1-12): preds rdf:type, aida:linksTo, aida:sameAs,
aida:anchorOf.  nodes/edges are the Iceberg-shaped graph materialization
(parquet in the sandbox — no Iceberg runtime jar; see sources/io.py).
"""

from __future__ import annotations

import os
from collections import namedtuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.canonicalize import assign_entities, group_partials


def build_triples(mentions: DataFrame, links: DataFrame, assign: DataFrame) -> DataFrame:
    """(subj, pred, obj, conf, url, char_begin, char_end); ``assign`` is
    ``canonicalize.assign_entities``' output."""
    m = mentions.select("mid", "url", "mention", "type", "score", "char_begin", "char_end")
    t_type = m.select(
        F.col("mid").alias("subj"), F.lit("rdf:type").alias("pred"),
        F.col("type").alias("obj"), F.col("score").alias("conf"),
        "url", "char_begin", "char_end",
    )
    t_anchor = m.select(
        F.col("mid").alias("subj"), F.lit("aida:anchorOf").alias("pred"),
        F.col("mention").alias("obj"), F.col("score").alias("conf"),
        "url", "char_begin", "char_end",
    )
    top = links.filter(F.col("rank") == 1)
    t_link = top.join(m.select("mid", "char_begin", "char_end"), "mid").select(
        F.col("mid").alias("subj"), F.lit("aida:linksTo").alias("pred"),
        F.col("eid").alias("obj"), F.col("confidence").alias("conf"),
        "url", "char_begin", "char_end",
    )
    return (t_type.unionByName(t_anchor).unionByName(t_link)
            .unionByName(same_as_triples(mentions, assign)))


def same_as_triples(mentions: DataFrame, assign: DataFrame, *carry: str) -> DataFrame:
    """``aida:sameAs`` rows: NAM mention -> the entity ``assign`` gives its
    (lower(mention), coarse_type) group, plus the mention columns ``carry``
    (a reconcile's ``batch_id``).  The only sameAs emission: the batch
    build and the stream reconciler write these rows."""
    return (
        mentions.filter(F.col("category") == "NAM")
        .withColumn("name_norm", F.lower(F.col("mention")))
        .join(assign, ["name_norm", "coarse_type"])
        .select(
            F.col("mid").alias("subj"), F.lit("aida:sameAs").alias("pred"),
            F.col("eid").alias("obj"), F.lit(1.0).alias("conf"),
            "url", "char_begin", "char_end", *carry,
        )
    )


def graph_stats(nodes: DataFrame, edges: DataFrame, top_k: int = 10) -> dict:
    """Post-materialize sanity summary of the nodes/edges tables — the check
    a KG consumer runs right after ``build_graph`` before shipping the
    tables (reference analog: the xref-count prints around
    xianyang_linking/linking.py:557-700's CSR emit).

    Returns a bounded dict::

        {n_nodes, n_edges, edges_by_rel: {rel: count},
         dst_degree: {p50, p99, max},        # mention-support per entity
         top_hubs: [{dst, rows}, ...]}       # top_k entities by in-degree

    Plan shape: one map-side-combinable groupBy per aggregate; the in-degree
    distribution reuses a single (dst -> count) frame for both the
    percentile summary and the deterministic top-k (ties break on dst).
    Every collect is one row or O(top_k) — safe at any graph size.
    """
    n_nodes = nodes.count()
    rel_rows = edges.groupBy("rel").agg(F.count(F.lit(1)).alias("n")).collect()
    edges_by_rel = {r["rel"]: int(r["n"]) for r in rel_rows}
    deg = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("n"))
    drow = deg.agg(
        F.expr("percentile_approx(n, 0.5)").alias("p50"),
        F.expr("percentile_approx(n, 0.99)").alias("p99"),
        F.max("n").alias("mx"),
    ).collect()[0]
    hubs = deg.orderBy(F.desc("n"), "dst").limit(top_k).collect()
    return {
        "n_nodes": int(n_nodes),
        "n_edges": sum(edges_by_rel.values()),
        "edges_by_rel": edges_by_rel,
        "dst_degree": {
            "p50": int(drow["p50"] or 0),
            "p99": int(drow["p99"] or 0),
            "max": int(drow["mx"] or 0),
        },
        "top_hubs": [{"dst": r["dst"], "rows": int(r["n"])} for r in hubs],
    }


def build_graph(mentions: DataFrame, links: DataFrame):
    """Full E3: returns (triples, nodes, edges) DataFrames.

    The entity assignment, ``assign_entities(group_partials(mentions,
    links))``, is computed from the whole input and localCheckpoint()ed
    once: it feeds the sameAs rows, and through them the edges, and the
    nodes, the distinct (eid, cname) pairs."""
    assign = assign_entities(group_partials(mentions, links)).localCheckpoint()
    triples = build_triples(mentions, links, assign)
    nodes = assign.select(
        F.col("eid").alias("node_id"), F.col("cname").alias("canonical_name")
    ).distinct()
    edges = (
        triples.filter(F.col("pred").isin("aida:linksTo", "aida:sameAs"))
        .select(
            F.col("subj").alias("src"), F.col("pred").alias("rel"),
            F.col("obj").alias("dst"), F.col("conf").alias("confidence"), "url",
        )
    )
    return triples, nodes, edges


KG = namedtuple("KG", "mentions links triples nodes edges")

# the schemas of links/triples/nodes/edges, for a build whose pages yield
# no mention (pinned against the full path by test_kg_build_without_mention)
_EMPTY_KG = (
    "url string, mid string, eid string, cname string, confidence double, rank int, "
    "subcomponent int",
    "subj string, pred string, obj string, conf double, url string, char_begin int, "
    "char_end int",
    "node_id string, canonical_name string",
    "src string, rel string, dst string, confidence double, url string",
)


def kg_build(pages: DataFrame, kb: DataFrame, aliases: DataFrame, *,
             promote: bool = True, resume: tuple[str, int] | None = None) -> KG:
    """Mention discovery -> linking -> graph on ``pages``: the one KG build.

    ``promote=False`` is the stream's flavour (see ``link_mentions``).
    ``resume=(out_dir, n_buckets)``, the CLI's mode, runs the ``mentions``
    and ``kb_links`` stages through ``run_stage`` (lineage in
    ``<out_dir>/_lineage``), so a killed build skips the buckets it
    completed; the output is the same.  Without ``resume``, pages that
    yield no mention (a stream's non-English micro-batch) return empty
    frames without linking: the row count observed on the mentions spill
    says so at no extra job.

    The alias index needs no page, so a second driver thread builds it
    while discovery runs (r07: ~5 sequential jobs hidden under the tagger).
    One materialization per frame, the r07 plan of ``kg_triples``: mentions
    and links are data-scale and feed several consumers each, so each is
    spilled to parquet once (in resume mode the ``run_stage`` table is the
    mentions spill); the url repartition lets AQE size the mentions'
    partitions to the mentions (~100x smaller than the pages).  A
    long-lived caller frees the spills with ``session.spill_scope``.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    from ..operators.linking import alias_index, link_mentions, link_mentions_resumable
    from ..operators.mentions import discover_mentions
    from ..session import materialize
    from .lineage import run_stage
    from .metrics import observe

    spark = pages.sparkSession
    with ThreadPoolExecutor(max_workers=1) as pool:
        index = pool.submit(inheritable_thread_target(spark)(lambda: alias_index(kb, aliases)))
        if resume is None:
            mentions, seen = observe(discover_mentions(pages).repartition("url"), "mentions",
                                     F.count(F.lit(1)).alias("n"))
            mentions = materialize(mentions, "mentions")
            if not seen.get["n"]:
                return KG(mentions, *(spark.createDataFrame([], s) for s in _EMPTY_KG))
            links = link_mentions(mentions, kb, aliases, promote, index=index.result())
        else:
            out_dir, n_buckets = resume
            lineage_dir = os.path.join(out_dir, "_lineage")
            mentions = run_stage(spark, pages, "mentions", discover_mentions,
                                 out_dir, lineage_dir, n_buckets).drop("bucket")
            links = link_mentions_resumable(spark, mentions, index.result(), out_dir,
                                            lineage_dir, n_buckets, promote)
    links = materialize(links, "links")
    return KG(mentions, links, *build_graph(mentions, links))
