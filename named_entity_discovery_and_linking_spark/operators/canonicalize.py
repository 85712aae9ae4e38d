"""Cross-document entity canonicalization (SURVEY.md §2.10) + cluster votes.

The reference CONSUMES coref clusters from upstream CSR frames
(linking.py:496-501) and enforces cluster-consistent links by score vote
(A2, linking.py:667-690) or elects a best mention for unlinked clusters
(A3, linking.py:624-653).  The north_rule requires us to PRODUCE clusters:
connected components over a mention-similarity graph whose edges are

  (i)  same linked KB id (exact), and
  (ii) same normalized NAM text + same coarse type

run as iterative DataFrame joins (alternating large-star/small-star style
min-label propagation), localCheckpoint()ed per round so the lineage does
not grow unboundedly.  Bounded rounds; converges in O(log n) for the
label-propagation variant used here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

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


def cluster_mentions(mentions: DataFrame, links: DataFrame) -> DataFrame:
    """(mid, cluster_id) for every NAM mention; singletons keep their own id.

    Two-level contraction: mentions belong to at most two equivalence groups
    — g1 = (normalized text, type), g2 = linked eid.  Each group elects a
    root (min mid); the iterative CC then runs on the CONTRACTED graph of
    distinct (root1, root2) pairs, which is orders of magnitude smaller than
    the mention graph (the mega-entity skew guard: a 10M-mention entity
    contributes ONE contracted node, not 10M edge endpoints).  Mentions are
    mapped back with a broadcast join.  cluster_id remains the min mid of
    the component, so results are identical to running CC on the full graph.
    """
    nam = mentions.filter(F.col("category") == "NAM").select(
        "mid", F.lower(F.col("mention")).alias("name_norm"), "coarse_type"
    )
    top_links = links.filter(F.col("rank") == 1).select("mid", "eid")

    # group roots via groupBy + broadcast join back, NOT a window: a window
    # partitioned by name/eid sorts one giant partition per hot entity
    # (measured as a ~100s serial critical path at 2.5M pages); the groupBy
    # aggregates map-side and its output is one row per GROUP — tiny, so it
    # broadcasts
    # join strategy left to AQE: the group table broadcasts when it fits
    # (runtime size check) and falls back to a skew-split shuffle join when
    # the name universe is too large to broadcast (true web scale)
    g1 = nam.groupBy("name_norm", "coarse_type").agg(F.min("mid").alias("r1"))
    with_r1 = nam.join(g1, ["name_norm", "coarse_type"])
    g2 = top_links.groupBy("eid").agg(F.min("mid").alias("r2"))
    link_r2 = top_links.join(g2, "eid").select("mid", "r2")
    m = with_r1.join(link_r2, "mid", "left")

    contracted = (
        m.filter(F.col("r2").isNotNull() & (F.col("r1") != F.col("r2")))
        .select(F.col("r1").alias("src"), F.col("r2").alias("dst"))
        .distinct()
    )
    comp = connected_components(contracted)  # tiny: one node per group root
    mapped = (
        m.join(F.broadcast(comp.withColumnRenamed("mid", "r1")), "r1", "left")
        .withColumn("c1", F.coalesce("cluster_id", "r1"))
        .drop("cluster_id")
        .join(
            F.broadcast(comp.selectExpr("mid as r2", "cluster_id as c2")), "r2", "left"
        )
        .withColumn(
            "cluster_id",
            F.least(F.col("c1"), F.coalesce(F.col("c2"), F.col("c1"), F.col("r2"))),
        )
    )
    return mapped.select("mid", F.coalesce("cluster_id", "mid").alias("cluster_id"))


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


def canonical_entities(clusters: DataFrame, links: DataFrame, mentions: DataFrame) -> DataFrame:
    """Per cluster: the voted KB entity (A2) if any member linked, else a
    deterministic tmp entity from the elected best mention (A3 ->
    linking.py:654-666 registration, sha1 ids per A6)."""
    voted = cluster_link_vote(clusters, links).select("cluster_id", "eid", "cname").distinct()
    linked_clusters = voted.select("cluster_id").distinct()
    unlinked = clusters.select("cluster_id").distinct().join(linked_clusters, "cluster_id", "left_anti")
    elected = elect_best_mention(clusters.join(unlinked, "cluster_id"), mentions).filter(
        # registration type gate (linking.py:649-650): only these coarse
        # types may become new temporary-KB entities
        F.col("coarse_type").isin("GPE", "LOC", "FAC", "PER", "ORG", "VEH", "WEA")
    ).select(
        "cluster_id",
        # sha1 over LOWER(best_mention): the reference registers
        # tmpkb.register(best_mention.lower(), ...) (linking.py:653) while
        # the xref's canonical_name keeps the raw case — matching both
        # promote_nils' lowercased minting and plans/csr.py's ids
        F.concat(
            F.lit("tmpkb:@"),
            F.substring(
                F.sha1(F.concat_ws("|", F.lower("best_mention"), "coarse_type")), 1, 12
            ),
        ).alias("eid"),
        F.col("best_mention").alias("cname"),
    )
    return voted.unionByName(elected)
