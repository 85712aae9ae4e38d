"""The NumPy/Arrow cosine kernels (functions/fastcos) and the similarity
operators built on them must reproduce the JVM Column expression
``similarity.cosine`` — same doubles, same rounding, same tie-breaks.

Each operator is checked against rows derived in plain Python from one
reference: every pairwise cosine of the fixture computed by the JVM
expression and collected (plus a vector x centroid table for IVF).
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


@pytest.fixture(scope="module")
def vecs(emb_df):
    return {r.vec_id: list(r.embedding) for r in emb_df.collect()}


@pytest.fixture(scope="module")
def pair_cos(emb_df):
    """(a, b) -> round(cosine(a, b), 6) by the JVM expression, for a != b."""
    x = emb_df.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    y = emb_df.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    rows = x.crossJoin(y).filter("a != b").select(
        "a", "b", F.round(S.cosine(F.col("va"), F.col("vb")), 6).alias("c")
    ).collect()
    return {(r.a, r.b): r.c for r in rows}


def _centroids(spark, emb_df, n_cells):
    """ivf_centroids, collected and rebuilt so every use sees one table."""
    rows = S.ivf_centroids(emb_df, n_cells).collect()
    return spark.createDataFrame([tuple(r) for r in rows], "cell int, centroid array<double>")


def _cell_cos(emb_df, cents):
    """(vec_id, cell) -> round(cosine(vec, centroid), 6) by the JVM expression."""
    rows = emb_df.crossJoin(cents).select(
        "vec_id", "cell",
        F.round(S.cosine(F.col("embedding"), F.col("centroid")), 6).alias("c"),
    ).collect()
    return {(r.vec_id, r.cell): r.c for r in rows}


def _buckets(vecs, nbits, offset=0):
    """id -> sign_bucket string, replayed in Python."""
    return {i: "".join("1" if v[offset + j] >= 0 else "0" for j in range(nbits))
            for i, v in vecs.items()}


def _top(scored, k):
    """[(cos, id)] -> the first k by (cos desc, id asc) as (id, cos, rank)."""
    ranked = sorted(scored, key=lambda t: (-t[0], t[1]))[:k]
    return [(i, c, r) for r, (c, i) in enumerate(ranked, 1)]


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


def test_lsh_bucketed_nn_arrow_equals_jvm(emb_df, vecs, pair_cos):
    for nbits in (4, 8, None):
        bucket = _buckets(vecs, nbits or S.adaptive_nbits(len(vecs)))
        expected = []
        for a in vecs:
            mates = [(pair_cos[a, b], b) for b in vecs if b != a and bucket[b] == bucket[a]]
            if mates:  # a singleton bucket has no pair
                (nn, cos, _), = _top(mates, 1)
                expected.append((a, nn, cos))
        got = _rows(S.lsh_bucketed_nn(emb_df, nbits=nbits))
        assert got == sorted(expected) and len(got) > 0


def test_cosine_topk_arrow_equals_jvm(emb_df, vecs, pair_cos):
    # the second id list has no id in the corpus: no rows
    for query_ids, n_rows in (([0, 1, 2, 1000], 16), ([5000, 5001], 0)):
        expected = [
            (q, n, cos, r)
            for q in query_ids if q in vecs
            for n, cos, r in _top([(pair_cos[q, n], n) for n in vecs if n != q], 4)
        ]
        got = S.cosine_topk(emb_df, query_ids, k=4)
        assert got.columns == ["q_id", "n_id", "cos", "rnk"]
        assert _rows(got) == sorted(expected) and len(expected) == n_rows


def test_ivf_assign_arrow_equals_jvm(spark, emb_df, vecs):
    cents = _centroids(spark, emb_df, 7)
    sim = _cell_cos(emb_df, cents)
    cells = sorted({c for _, c in sim})
    expected = [(v, vecs[v], _top([(sim[v, c], c) for c in cells], 1)[0][0]) for v in vecs]
    got = _rows(S.ivf_assign(emb_df, cents))
    assert got == sorted(expected) and len(got) == emb_df.count()


def test_ivf_topk_matches_old_plan_shape(spark, emb_df, vecs, pair_cos):
    """ivf_topk (queries read off the corpus, collected centroid rebuild,
    kernel assignment) equals the IVF construction replayed in Python over
    the reference tables: argmax assignment, the nprobe best cells per
    query, then the exact top-k among the vectors assigned to them."""
    sim = _cell_cos(emb_df, _centroids(spark, emb_df, None))
    cells = sorted({c for _, c in sim})
    cell_of = {v: _top([(sim[v, c], c) for c in cells], 1)[0][0] for v in vecs}
    expected = []
    for q in [0, 1, 2, 3, 4]:
        probed = {c for c, _, _ in _top([(sim[q, c], c) for c in cells], 2)}
        cands = [(pair_cos[q, n], n) for n in vecs if n != q and cell_of[n] in probed]
        expected += [(q, n, cos, r) for n, cos, r in _top(cands, 3)]
    got = _rows(S.ivf_topk(emb_df, [0, 1, 2, 3, 4], k=3, n_cells=None, nprobe=2))
    assert got == sorted(expected) and len(got) == 15


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


def test_near_dup_pairs_arrow_equals_jvm(emb_df, vecs, pair_cos):
    for nt in (1, 2):
        tables = [_buckets(vecs, 5, offset=5 * t) for t in range(nt)]
        expected = sorted(
            (a, b, pair_cos[a, b]) for a in vecs for b in vecs
            if a < b and pair_cos[a, b] >= 0.3 and any(t[a] == t[b] for t in tables)
        )
        got = _rows(S.embedding_near_dup_pairs(
            emb_df, threshold=0.3, nbits=5, n_tables=nt))
        assert got == expected and len(got) > 0


def test_zero_norm_cosine_raises_on_every_kernel_operator(spark):
    """A zero vector in a computed cosine is an error on every kernel path,
    as it is for the JVM expression under ANSI mode (DIVIDE_BY_ZERO).  A
    zero vector alone in its LSH bucket is never paired, so it is not."""
    emb = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.5]), (2, [0.5, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell int, centroid array<double>")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        emb.select(S.cosine(F.col("embedding"), F.col("embedding"))).collect()
    for op in (
        lambda: S.cosine_topk(emb, [1], k=2),
        lambda: S.lsh_bucketed_nn(emb, nbits=1),
        lambda: S.embedding_near_dup_pairs(emb, threshold=0.5, nbits=1),
        lambda: S.embedding_near_dup_pairs(emb, threshold=0.5, nbits=1, n_tables=2),
        lambda: S.ivf_assign(emb, cents),
        lambda: S.semdedup_clusters(emb, threshold=0.5, nbits=1),
    ):
        with pytest.raises(Exception, match="zero-norm"):
            op().collect()
    # sign bits of [0, 0] are '1': the zero vector is alone in its bucket
    lone = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [-1.0, 0.5]), (2, [-0.5, 1.0]), (3, [-1.0, -1.0])],
        "vec_id long, embedding array<double>",
    )
    assert _rows(S.lsh_bucketed_nn(lone, nbits=1)) == [
        (1, 2, 0.8), (2, 1, 0.8), (3, 1, 0.316228)]
    assert _rows(S.embedding_near_dup_pairs(lone, threshold=0.5, nbits=1)) == [(1, 2, 0.8)]


def test_kernel_operators_validate_input_types(spark):
    """Integral ids and array<double> vectors are checked at each kernel
    operator's entry; the error names the column and its type."""
    rows = [(1, [1.0, 0.5]), (2, [0.5, 1.0])]
    cents = spark.createDataFrame([(0, [1.0, 0.0])], "cell int, centroid array<double>")
    bad = [
        (spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
         "'embedding'.*array<float>"),
        (spark.createDataFrame([(str(i), v) for i, v in rows],
                               "vec_id string, embedding array<double>"),
         "'vec_id'.*string"),
    ]
    for emb, msg in bad:
        for op in (
            lambda: S.cosine_topk(emb, [1]),
            lambda: S.lsh_bucketed_nn(emb, nbits=1),
            lambda: S.embedding_near_dup_pairs(emb, nbits=1),
            lambda: S.embedding_near_dup_pairs(emb, nbits=1, n_tables=2),
            lambda: S.ivf_assign(emb, cents),
            lambda: S.ivf_topk(emb, [1], n_cells=2),
            lambda: S.semdedup_clusters(emb, nbits=1),
        ):
            with pytest.raises(TypeError, match=msg):
                op()
