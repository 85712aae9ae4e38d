"""Connected components + cluster vote/election (SURVEY §2.10, A2, A3)."""

from pyspark.sql import functions as F

from named_entity_discovery_and_linking_spark.operators.canonicalize import (
    cluster_link_vote,
    cluster_mentions,
    connected_components,
    elect_best_mention,
)


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    cc = {r["mid"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == "a"
    assert cc["x"] == cc["y"] == "x"
    assert cc["a"] != cc["x"]


def test_cluster_vote_argmax(spark):
    clusters = spark.createDataFrame(
        [("m1", "c1"), ("m2", "c1"), ("m3", "c1")], "mid string, cluster_id string"
    )
    links = spark.createDataFrame(
        [
            ("m1", "refkb:E1", "A", 0.6, 1),
            ("m2", "refkb:E2", "B", 0.9, 1),
            ("m3", "refkb:E1", "A", 0.5, 1),
        ],
        "mid string, eid string, cname string, confidence double, rank int",
    )
    # sum votes: E1=1.1 > E2=0.9 -> all members re-linked to E1 (linking.py:667-690)
    out = cluster_link_vote(clusters, links).collect()
    assert {r["mid"] for r in out} == {"m1", "m2", "m3"}
    assert {r["eid"] for r in out} == {"refkb:E1"}


def test_election_tie_breaks_longer(spark):
    clusters = spark.createDataFrame(
        [("m1", "c1"), ("m2", "c1"), ("m3", "c1"), ("m4", "c1")],
        "mid string, cluster_id string",
    )
    mentions = spark.createDataFrame(
        [
            ("m1", "NAM", "Zorylenko", "PER"),
            ("m2", "NAM", "Zorylenko", "PER"),
            ("m3", "NAM", "Commander Zorylenko", "PER"),
            ("m4", "NAM", "Commander Zorylenko", "PER"),
        ],
        "mid string, category string, mention string, coarse_type string",
    )
    # tie on count (2 vs 2) -> longer string wins (linking.py:624-653)
    out = elect_best_mention(clusters, mentions).collect()
    assert out[0]["best_mention"] == "Commander Zorylenko"


def test_cluster_mentions_same_text_same_cluster(spark):
    mentions = spark.createDataFrame(
        [
            ("m1", "NAM", "Kyiv", "GPE"),
            ("m2", "NAM", "kyiv", "GPE"),
            ("m3", "NAM", "Moscow", "GPE"),
        ],
        "mid string, category string, mention string, coarse_type string",
    )
    links = spark.createDataFrame(
        [], "mid string, eid string, cname string, confidence double, rank int"
    )
    cc = {r["mid"]: r["cluster_id"] for r in cluster_mentions(mentions, links).collect()}
    assert cc["m1"] == cc["m2"]
    assert cc["m3"] != cc["m1"]


def test_same_eid_links_merge_clusters(spark):
    mentions = spark.createDataFrame(
        [("m1", "NAM", "Kiev", "GPE"), ("m2", "NAM", "Kyiv", "GPE")],
        "mid string, category string, mention string, coarse_type string",
    )
    links = spark.createDataFrame(
        [("m1", "refkb:E0", "Kyiv", 1.0, 1), ("m2", "refkb:E0", "Kyiv", 1.0, 1)],
        "mid string, eid string, cname string, confidence double, rank int",
    )
    cc = {r["mid"]: r["cluster_id"] for r in cluster_mentions(mentions, links).collect()}
    assert cc["m1"] == cc["m2"]


def test_mega_cluster_contraction_handles_hot_entity(spark):
    """Mega-entity skew guard: 100k NAM mentions of ONE name contract to a
    single graph node, cluster in bounded time, and the A2/A3 path elects
    once.  Guards the claim in cluster_mentions' docstring — at 100 TB a
    hot entity ('Ukraine' across a crawl) must contribute one contracted
    node, never a window partition of corpus size."""
    import time

    from named_entity_discovery_and_linking_spark.operators.canonicalize import (
        canonical_entities,
        cluster_mentions,
    )

    n = 100_000
    mentions = spark.range(n).select(
        F.concat(F.lit("d"), (F.col("id") % 5000).cast("string"),
                 F.lit("#m"), F.col("id").cast("string")).alias("mid"),
        F.lit("NAM").alias("category"),
        F.lit("Ukraine").alias("mention"),
        F.lit("GPE").alias("coarse_type"),
    )
    links = spark.createDataFrame([], "mid string, eid string, cname string, "
                                      "confidence double, rank int")
    t0 = time.time()
    clusters = cluster_mentions(mentions, links).localCheckpoint()
    assert clusters.count() == n
    assert clusters.select("cluster_id").distinct().count() == 1
    ents = canonical_entities(clusters, links, mentions).collect()
    wall = time.time() - t0
    assert len(ents) == 1 and ents[0]["cname"] == "Ukraine"
    assert wall < 120, f"mega-cluster path took {wall:.1f}s"


def test_connected_components_matches_union_find_on_random_graphs(spark):
    """20 seeded random graphs (varying density, chains, stars, isolated
    pairs) run through ONE connected_components call (disjoint id spaces),
    compared against a plain union-find: component partition must match
    exactly, including the min-id cluster labels."""
    import random

    from named_entity_discovery_and_linking_spark.operators.canonicalize import (
        connected_components,
    )

    rng = random.Random(7)
    edges = []
    expected_parent = {}

    def uf_build(nodes, es):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in es:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in nodes}

    for g in range(20):
        n = rng.randint(2, 40)
        nodes = [f"g{g:02d}n{i:03d}" for i in range(n)]
        if g % 4 == 0:      # chain (worst diameter for plain propagation)
            es = list(zip(nodes, nodes[1:]))
        elif g % 4 == 1:    # star
            es = [(nodes[0], x) for x in nodes[1:]]
        else:               # random sparse
            es = [tuple(rng.sample(nodes, 2)) for _ in range(max(1, n // 2))]
        edges.extend(es)
        expected_parent.update(uf_build(nodes, es))

    # columns in (dst, src) order plus one edge with a NULL endpoint: both
    # the driver union-find and the distributed loop read the endpoints by
    # name and drop that edge
    df = spark.createDataFrame([(b, a) for a, b in edges] + [(None, "zz")],
                               "dst string, src string")
    # connected_components labels only nodes that appear in edges
    touched = {a for e in edges for a in e}
    want = {n: p for n, p in expected_parent.items() if n in touched}
    driver = connected_components(df)
    loop = connected_components(df, driver_max_edges=None)
    assert driver.schema == loop.schema
    for comp in (driver, loop):
        assert {r["mid"]: r["cluster_id"] for r in comp.collect()} == want
