"""r07 optimization pins: the NumPy/Arrow cosine kernels (functions/fastcos,
similarity use_arrow=True paths) must be bit-identical to the JVM Column
formulation they replaced — same doubles, same rounding, same tie-breaks.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from named_entity_discovery_and_linking_spark.functions import fastcos as FC
from named_entity_discovery_and_linking_spark.operators import similarity as S


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = random.Random(4207)
    data = [
        (i, [rng.uniform(-1, 1) for _ in range(16)])
        for i in range(300)
    ]
    # a few exact duplicates and sign-flipped twins for tie coverage
    data += [(1000 + i, list(data[i][1]) if i % 2 else [-x for x in data[i][1]])
             for i in range(10)]
    return spark.createDataFrame(data, "vec_id long, embedding array<double>")


def test_round6_matches_spark_round(spark):
    rng = random.Random(7)
    vals = [rng.uniform(-1, 1) for _ in range(20000)]
    # adversarial: decimal midpoints at the 7th place, representable
    # midpoints, near-zero negatives, exact 6-dp values, boundary drift
    vals += [0.1234565, -0.1234565, 0.9999995, -0.9999995, 1.0000005,
             2.5e-7, -2.5e-7, 5e-7, -5e-7, 0.123456, -0.123456, 0.0,
             1.0, -1.0, 0.12345649999999999, 0.98765425, -0.98765425]
    vals += [i / 2e6 for i in range(-50, 50)]          # dense .5 boundaries
    vals += [math.nextafter(0.1234565, 0), math.nextafter(0.1234565, 1)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got_spark = [r.r for r in df.select(F.round("x", 6).alias("r")).collect()]
    got_np = FC.round6(np.array(vals))
    for v, s_r, n_r in zip(vals, got_spark, got_np):
        assert s_r == n_r and math.copysign(1, s_r) == math.copysign(1, n_r), (
            f"round6 mismatch for {v!r}: spark={s_r!r} numpy={n_r!r}"
        )


def test_cross_cos_matches_jvm_expression(spark):
    rng = random.Random(11)
    a = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(500)]
    b = [rng.uniform(-1, 1) for _ in range(16)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(a)], "i long, v array<double>"
    ).withColumn("q", F.array(*[F.lit(x) for x in b]))
    jvm = [
        r.c for r in df.select(
            "i", F.round(S.cosine(F.col("v"), F.col("q")), 6).alias("c")
        ).orderBy("i").collect()
    ]
    got = FC.cross_cos(np.array(a), np.array([b]))[:, 0]
    assert list(got) == jvm


def test_lsh_bucketed_nn_arrow_equals_jvm(emb_df):
    for nbits in (4, 8, None):
        new = _rows(S.lsh_bucketed_nn(emb_df, nbits=nbits, use_arrow=True))
        old = _rows(S.lsh_bucketed_nn(emb_df, nbits=nbits, use_arrow=False))
        assert new == old and len(new) > 0


def test_cosine_topk_arrow_equals_jvm(emb_df):
    # the second id list has no id in the corpus: both paths give no rows
    for query_ids, n_rows in (([0, 1, 2, 1000], 16), ([5000, 5001], 0)):
        new = S.cosine_topk(emb_df, query_ids, k=4, use_arrow=True)
        old = S.cosine_topk(emb_df, query_ids, k=4, use_arrow=False)
        assert new.columns == old.columns == ["q_id", "n_id", "cos", "rnk"]
        assert _rows(new) == _rows(old) and len(_rows(new)) == n_rows


def test_ivf_assign_arrow_equals_jvm(emb_df):
    cents = S.ivf_centroids(emb_df, n_cells=7)
    new = _rows(S.ivf_assign(emb_df, cents, use_arrow=True))
    old = _rows(S.ivf_assign(emb_df, cents, use_arrow=False))
    assert new == old and len(new) == emb_df.count()


def test_ivf_topk_matches_old_plan_shape(emb_df):
    """The restructured ivf_topk (q from the corpus, collected centroid
    rebuild, Arrow assignment) must reproduce the old plan's rows exactly:
    old = q filtered from the assignment output, JVM assignment."""
    new = _rows(S.ivf_topk(emb_df, [0, 1, 2, 3, 4], k=3, n_cells=None, nprobe=2))
    from pyspark.sql import Window

    cents = S.ivf_centroids(emb_df, None).localCheckpoint()
    inv = S.ivf_assign(emb_df, cents, use_arrow=False)
    q = inv.filter(F.col("vid").isin([0, 1, 2, 3, 4])).select(
        F.col("vid").alias("q_id"), F.col("vec").alias("q_vec")
    )
    probe_w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("cell").asc())
    probed = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cents))
        .select("q_id", "q_vec", "cell",
                F.round(S.cosine(F.col("q_vec"), F.col("centroid")), 6).alias("sim"))
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") <= 2)
        .select("q_id", "q_vec", "cell")
    )
    scored = (
        probed.join(inv, "cell")
        .filter(F.col("vid") != F.col("q_id"))
        .select("q_id", F.col("vid").alias("n_id"),
                F.round(S.cosine(F.col("q_vec"), F.col("vec")), 6).alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id").asc())
    old = _rows(
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("q_id", "n_id", "cos", "rnk")
    )
    assert new == old and len(new) == 15


def test_minhash_pairs_explode_signature_unchanged(spark):
    """dedup.minhash_lsh_pairs r07 restructure (shared shingle frame +
    relational signature) against the array-expression signature path."""
    from named_entity_discovery_and_linking_spark.operators import dedup as D

    rng = random.Random(99)
    words = [f"w{i}" for i in range(40)]
    docs = []
    for i in range(60):
        base = [rng.choice(words) for _ in range(rng.randint(2, 30))]
        docs.append((i, " ".join(base)))
        if i % 5 == 0:  # plant near-dups
            docs.append((1000 + i, " ".join(base[:-1] + [rng.choice(words)])))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = _rows(D.minhash_lsh_pairs(df, threshold=0.3))
    # old signature construction, then the same band/verify pipeline keyed
    # off it: equality of signatures implies identical candidates, and the
    # verify path derives from the same shingle set
    sig_old = _rows(D.minhash_signatures(df))
    sh = D._doc_shingles(df, "doc_id", "text", 3)
    sig_new = _rows(
        sh.groupBy("doc").agg(
            *[F.min(D.seeded_hash(F.col("sh"), i)).alias(f"mh_{i}")
              for i in range(D.MINHASH_HASHES)]
        )
    )
    assert sig_old == sig_new
    assert len(pairs) > 0


def test_near_dup_pairs_arrow_equals_jvm(emb_df):
    for nt in (1, 2):
        new = _rows(S.embedding_near_dup_pairs(
            emb_df, threshold=0.3, nbits=5, n_tables=nt, use_arrow=True))
        old = _rows(S.embedding_near_dup_pairs(
            emb_df, threshold=0.3, nbits=5, n_tables=nt, use_arrow=False))
        assert new == old and len(new) > 0
