"""Cross-document entity canonicalization (SURVEY.md §2.10) + cluster votes.

The reference CONSUMES coref clusters from upstream CSR frames
(linking.py:496-501) and enforces cluster-consistent links by score vote
(A2, linking.py:667-690) or elects a best mention for unlinked clusters
(A3, linking.py:624-653).  The north_rule requires us to PRODUCE clusters:
connected components over a mention-similarity graph whose edges are

  (i)  same linked KB id (exact), and
  (ii) same normalized NAM text + same coarse type

The closure runs at group grain, once: ``group_partials`` contracts the
mentions to their g1 = (lower(mention), coarse_type) and g2 = (linked eid)
groups and keeps the per-group aggregates the vote and the election need;
``assign_entities`` runs ``connected_components`` on the contracted graph
(one node per group root, not per mention) and gives every g1 group its
cluster's entity.  The partials are mergeable (``merge_partials``), so the
batch build (``plans.graph.build_graph``) and the stream reconciler
(``streaming/reconcile.py``), which folds new
batches into stored partials, compute the same assignment.

``cluster_link_vote`` and ``elect_best_mention`` are A2 and A3 at mention
grain, over clusters that CSR frames supply (``plans/csr.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .linking import register_tmp_entities

MAX_CC_ROUNDS = 12

# Driver short-circuit bound for connected_components: edge sets at or
# below this size are collected (one bounded job) and closed with a
# union-find on the driver instead of O(log n) sequential distributed
# rounds — at bench scale the loop is pure job latency (each round is a
# full-plan job over a few hundred contracted-root edges).  Above the
# bound the distributed pointer-jumping loop runs unchanged, so 100-TB
# inputs never hit the driver; 200k edges ≈ a few MB collected, the same
# order as a broadcast-side dimension (guide §5: bounded control-plane
# collects, not data-plane ones).
CC_DRIVER_MAX_EDGES = 200_000


def _driver_union_find(pairs):
    """Min-label connected components over (src, dst) pairs on the driver.
    Returns {node: min_node_in_component}."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN id so every root is its component's minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def connected_components(edges: DataFrame, max_rounds: int = MAX_CC_ROUNDS,
                         driver_max_edges: int | None = CC_DRIVER_MAX_EDGES) -> DataFrame:
    """Min-label propagation WITH pointer jumping over (src, dst) edges.

    Returns (mid, cluster_id) where cluster_id is the lexicographically
    smallest mention id in the component.  Each round does two half-steps:

      1. propagate:  label(v) <- min(label(v), min over neighbors label(u))
      2. jump:       label(v) <- min(label(v), label(label(v)))

    Plain propagation alone needs ~diameter rounds (a chain of k contracted
    group-roots takes k rounds); the jump half-step doubles the resolved
    prefix per round, giving true O(log n) convergence.  Rounds are
    localCheckpoint()ed LAZILY (plan truncation — the iterative-join pitfall
    in SURVEY.md §7) and materialized by the full-scan convergence count, so
    each round costs ONE Spark job, not two (the eager-checkpoint + count
    pair was half of the flagship's fixed per-job driver latency; the count
    must NOT be limit(1) — a partial action would only materialize the
    partitions it touched and the next round would recompute the rest from
    untruncated lineage).  If the round cap is hit without convergence we
    RAISE rather than silently return split components.

    r07: edge sets at or below ``driver_max_edges`` short-circuit to a
    driver union-find (identical min-label result, one bounded collect
    instead of O(log n) sequential round jobs — see CC_DRIVER_MAX_EDGES);
    the probe collects at most driver_max_edges + 1 rows, so an oversized
    edge set falls through to the distributed loop without ever
    materializing on the driver.
    """
    # endpoints by name, and no edge with a NULL endpoint: both paths below
    # see the same edge set
    edges = edges.select("src", "dst").dropna()
    if driver_max_edges is not None:
        probe = edges.limit(driver_max_edges + 1).collect()
        if len(probe) <= driver_max_edges:
            spark = edges.sparkSession
            comp = _driver_union_find((r["src"], r["dst"]) for r in probe)
            src_type = edges.schema["src"].dataType
            from pyspark.sql.types import StructField, StructType

            schema = StructType([
                StructField("mid", src_type, True),
                StructField("cluster_id", src_type, True),
            ])
            return spark.createDataFrame(
                sorted(comp.items()), schema
            )
    sym = (
        edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("src").alias("mid"))
        .union(sym.select(F.col("dst").alias("mid")))
        .distinct()
        .withColumn("label", F.col("mid"))
        .localCheckpoint(eager=False)
    )
    for _rnd in range(max_rounds):
        neighbor_min = (
            sym.join(labels.withColumnRenamed("mid", "dst2"), sym.dst == F.col("dst2"))
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = (
            labels.join(neighbor_min, labels.mid == neighbor_min.src, "left")
            .select(
                "mid",
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias("p_label"),
                F.col("label").alias("old_label"),
            )
        )
        # pointer jump: label <- label's label (one hop of path compression)
        ptr = propagated.select(
            F.col("mid").alias("p_mid"), F.col("p_label").alias("pp_label")
        )
        new_labels = (
            propagated.join(ptr, propagated.p_label == ptr.p_mid, "left")
            .select(
                "mid",
                F.least(F.col("p_label"), F.coalesce(F.col("pp_label"), F.col("p_label"))).alias("new_label"),
                "old_label",
            )
            .localCheckpoint(eager=False)
        )
        labels = new_labels.select("mid", F.col("new_label").alias("label"))
        # full count (not limit(1)): the action that materializes the lazy
        # checkpoint must touch EVERY partition — see docstring
        if new_labels.filter(F.col("new_label") != F.col("old_label")).count() == 0:
            return labels.select("mid", F.col("label").alias("cluster_id"))
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds — "
        "returning partial labels would split entity components; raise the "
        "round cap (O(log n) rounds suffice with pointer jumping)"
    )


# g1: the group of a NAM mention's normalized text and coarse type
G1 = ["name_norm", "coarse_type"]

# per partial: its grouping key and how a column re-aggregates (min of
# mins, sum of sums and of counts); a partial without one is a set
_MERGE = {
    "groups": (G1, {"r1": F.min}),
    "g2": (["eid"], {"r2": F.min}),
    "gedges": (G1 + ["eid"], {}),
    "votes": (G1 + ["eid", "cname"], {"vote": F.sum}),
    "texts": (G1 + ["mention"], {"cnt": F.sum, "min_mid": F.min}),
}


def group_partials(mentions: DataFrame, links: DataFrame) -> dict:
    """The per-group aggregates of the NAM ``mentions`` and their rank-1
    ``links`` that the entity assignment needs:

      groups  (name_norm, coarse_type, r1)        g1 root: min mid
      g2      (eid, r2)                           g2 root: min linked mid
      gedges  (name_norm, coarse_type, eid)       distinct g1-eid pairs
      votes   (name_norm, coarse_type, eid, cname, vote)   sum(confidence)
      texts   (name_norm, coarse_type, mention, cnt, min_mid)

    Every column is a min, a sum, a count or a set member, so the partials
    of two inputs re-aggregate to those of their union (``merge_partials``).
    All are groupBy aggregates, never a window: a hot entity ('Ukraine'
    across a crawl) is one combined row per group, not a sorted partition
    of corpus size."""
    nam = mentions.filter(F.col("category") == "NAM").select(
        "mid", F.lower(F.col("mention")).alias("name_norm"), "coarse_type", "mention")
    top = links.filter((F.col("rank") == 1) & F.col("eid").isNotNull())
    linked = nam.join(top.select("mid", "eid", "cname", "confidence"), "mid")
    return {
        "groups": nam.groupBy(*G1).agg(F.min("mid").alias("r1")),
        "g2": linked.groupBy("eid").agg(F.min("mid").alias("r2")),
        "gedges": linked.select(*G1, "eid").distinct(),
        "votes": linked.groupBy(*G1, "eid", "cname").agg(F.sum("confidence").alias("vote")),
        "texts": nam.groupBy(*G1, "mention").agg(
            F.count("*").alias("cnt"), F.min("mid").alias("min_mid")),
    }


def merge_partials(state: dict, delta: dict) -> dict:
    """``group_partials`` of the union of two inputs, from the partials of
    each: the stream reconciler's fold of new batches into its state."""
    out = {}
    for name, (keys, aggs) in _MERGE.items():
        both = state[name].unionByName(delta[name])
        out[name] = (both.groupBy(*keys).agg(*(f(c).alias(c) for c, f in aggs.items()))
                     if aggs else both.distinct())
    return out


def assign_entities(partials: dict) -> DataFrame:
    """(name_norm, coarse_type, eid, cname): each g1 group's entity.

    Clusters are the connected components of the contracted graph whose
    nodes are the g1 and g2 roots and whose edges are the g1-eid pairs; a
    cluster is labelled by its min root, which is its min mention id.  Each
    cluster then gets one entity: the A2 vote (the eid with the largest
    summed confidence, ties to the smaller eid) if a member is linked, else
    the A3 election (the most frequent mention text, ties to the longer,
    then the smaller text; the type of its min-mid mention) registered in
    the temporary KB (``linking.register_tmp_entities``; a cluster whose
    elected type fails the gate gets no entity).  Every mention of a g1
    group is in the same cluster, so the per-group partials add up to the
    cluster's vote and text counts."""
    groups = partials["groups"]
    edges = (
        partials["gedges"].join(groups, G1).join(partials["g2"], "eid")
        .filter(F.col("r1") != F.col("r2"))
        .select(F.col("r1").alias("src"), F.col("r2").alias("dst"))
        .distinct()
    )
    comp = connected_components(edges)  # tiny: one node per group root
    gc = groups.join(F.broadcast(comp.withColumnRenamed("mid", "r1")), "r1", "left").select(
        *G1, F.coalesce("cluster_id", "r1").alias("cluster_id"),
    ).localCheckpoint()

    per_eid = (
        partials["votes"].join(gc, G1)
        .groupBy("cluster_id", "eid", "cname").agg(F.sum("vote").alias("vote"))
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("vote").desc(), F.col("eid").asc())
    winners = (per_eid.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
               .select("cluster_id", "eid", "cname"))

    unlinked = gc.select("cluster_id").distinct().join(winners, "cluster_id", "left_anti")
    counts = (
        partials["texts"].join(gc, G1).join(unlinked, "cluster_id")
        .groupBy("cluster_id", "mention")
        .agg(F.sum("cnt").alias("cnt"),
             F.expr("min_by(coarse_type, min_mid)").alias("coarse_type"))
    )
    wb = Window.partitionBy("cluster_id").orderBy(
        F.col("cnt").desc(), F.length("mention").desc(), F.col("mention").asc()
    )
    elected = register_tmp_entities(
        counts.withColumn("rn", F.row_number().over(wb)).filter(F.col("rn") == 1), "mention"
    ).select("cluster_id", "eid", F.col("mention").alias("cname"))
    return gc.join(winners.unionByName(elected), "cluster_id").select(*G1, "eid", "cname")


def cluster_link_vote(clusters: DataFrame, links: DataFrame) -> DataFrame:
    """A2 (linking.py:667-690): per cluster sum link confidence per eid; the
    argmax eid wins and EVERY member gets the SAME xref — the reference
    appends one shared ``final_linking`` record (the first member in frame
    order whose link id equals the winner) to every cluster member.  The
    shared score here is the winner-eid's best member confidence — a
    deterministic proxy for the reference's frame-order 'first' (which
    depends on CSR file order)."""
    top = links.filter(F.col("rank") == 1).select("mid", "eid", "cname", "confidence")
    per_eid = (
        clusters.join(top, "mid")
        .groupBy("cluster_id", "eid", "cname")
        .agg(F.sum("confidence").alias("vote"), F.max("confidence").alias("best_conf"))
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("vote").desc(), F.col("eid").asc())
    winners = per_eid.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).select(
        "cluster_id", F.col("eid").alias("win_eid"), F.col("cname").alias("win_cname"),
        F.col("best_conf").alias("win_conf"),
    )
    return clusters.join(winners, "cluster_id").select(
        "mid", "cluster_id", F.col("win_eid").alias("eid"),
        F.col("win_cname").alias("cname"), F.col("win_conf").alias("confidence"),
    )


def elect_best_mention(clusters: DataFrame, mentions: DataFrame) -> DataFrame:
    """A3 (linking.py:624-653): for clusters with NO linked member, elect the
    most frequent NAM mention TEXT (the reference's mention_counter is keyed
    by text alone — votes are NOT split by type); ties broken by longer
    string, then lexicographic (deterministic refinement of the reference's
    dict-order tie).  The elected type is the type of the FIRST cluster
    member bearing that text (linking.py:643-646 breaks on the first frame)
    — here the min-mid member, the deterministic proxy for frame order."""
    nam = mentions.filter(F.col("category") == "NAM").select("mid", "mention", "coarse_type")
    member = clusters.join(nam, "mid")
    counts = member.groupBy("cluster_id", "mention").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("cnt").desc(), F.length("mention").desc(), F.col("mention").asc()
    )
    best = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster_id", "mention")
    )
    typed = member.groupBy("cluster_id", "mention").agg(
        F.expr("min_by(coarse_type, mid)").alias("coarse_type")
    )
    return best.join(typed, ["cluster_id", "mention"]).select(
        "cluster_id", F.col("mention").alias("best_mention"), "coarse_type"
    )
