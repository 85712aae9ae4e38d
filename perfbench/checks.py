"""Helpers of the output checks.

Every check compares a run's outputs with something computed in the same
run or planted by the generator, so a check can fail on the first run of a
seed.  A digest is ``(rows, sum of xxhash64 over all columns)``; the sum is
taken as a decimal so it cannot overflow, and it does not depend on row
order or partitioning.
"""

from __future__ import annotations

import os


def input_dirs(data: str) -> list[str]:
    dirs = [os.path.join(data, d) for d in ("pages", "docs")]
    return [d for d in dirs if os.path.isdir(d)]


def digest(df) -> list:
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return [int(r["n"]), str(r["h"] if r["h"] is not None else 0)]


def rows_with_urls(spark, paths: list[str], urls: list[str]) -> int:
    """Rows whose url is in ``urls``, over the tables at ``paths`` that
    exist (one job)."""
    from functools import reduce

    from pyspark.sql import functions as F

    frames = [spark.read.parquet(p).select("url") for p in paths if os.path.exists(p)]
    if not frames:
        return 0
    return reduce(lambda a, b: a.unionAll(b), frames).filter(F.col("url").isin(urls)).count()


def exact_components(vecs, threshold: float) -> list[int]:
    """Connected components of the graph joining every pair of vectors whose
    cosine is at least ``threshold`` (all pairs, exact); returns each
    vector's component as the smallest index in it."""
    import numpy as np

    x = np.asarray(vecs, dtype=np.float64)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    parent = list(range(len(x)))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in zip(*np.nonzero(np.triu(x @ x.T >= threshold, k=1))):
        ra, rb = find(int(a)), find(int(b))
        parent[max(ra, rb)] = min(ra, rb)
    return [find(i) for i in range(len(x))]
