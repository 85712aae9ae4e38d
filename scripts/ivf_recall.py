"""Recall@k vs nprobe for the adaptive IVF (judge r3 next-round #5).

Ground truth is brute-force cosine_topk; recall@k = |IVF top-k ∩ exact
top-k| / (|queries|·k), measured at two corpus sizes with the adaptive
sqrt(n) cell count.  Prints a markdown table for BENCH.md.

Usage: python scripts/ivf_recall.py  (local[SPARK_GRAFT_CPUS], default: all cores)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from named_entity_discovery_and_linking_spark.operators.similarity import (
    adaptive_n_cells,
    cosine_topk,
    ivf_topk,
)
from named_entity_discovery_and_linking_spark.session import get_spark

K = 10
QUERIES = list(range(20))


def main():
    spark = get_spark("ivf-recall",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    base = (
        spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    n_base = base.count()

    def replicated(copies: int):
        """copies x the sf0.1 table with fresh ids and a deterministic
        per-copy perturbation (mixing in a rolled dimension — NOT a scalar
        multiple, which cosine would ignore)."""
        c = spark.range(copies).select(F.col("id").alias("copy"))
        d = F.size("embedding")
        return base.crossJoin(c).select(
            (F.col("vec_id") + F.col("copy") * n_base).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x + 0.05 * F.col("copy")
                * F.element_at(F.col("embedding"), (i + 7) % d + 1),
            ).alias("embedding"),
        )

    corpora = [
        ("sf0.001", spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
         .withColumn("embedding", F.col("embedding").cast("array<double>"))),
        ("sf0.1 x8 replicated", replicated(8)),
    ]
    print(f"| corpus | n_cells (adaptive) | nprobe | recall@{K} |")
    print("|---|---|---|---|")
    for sf, emb in corpora:
        emb = emb.localCheckpoint()
        n = emb.count()
        nc = adaptive_n_cells(n)
        exact = {
            (r["q_id"], r["n_id"])
            for r in cosine_topk(emb, QUERIES, k=K).collect()
        }
        for nprobe in (1, 2, 4, 8, 16, 32, nc):
            got = {
                (r["q_id"], r["n_id"])
                for r in ivf_topk(emb, QUERIES, k=K, n_cells=nc, nprobe=nprobe).collect()
            }
            rec = len(got & exact) / len(exact)
            print(f"| {sf} (n={n:,}) | {nc} | {nprobe} | {rec:.3f} |", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
