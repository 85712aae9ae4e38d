"""Portable, engine-agnostic hashing as Spark Column expressions.

Spark's native ``xxhash64``/``hash`` are seeded engine-internals that DuckDB
cannot reproduce, so every operator whose correctness is oracle-checked
(MinHash, SimHash, fingerprints) uses an md5-derived 60-bit integer hash that
both engines compute identically:

  Spark : conv(substring(md5(s), 1, 15), 16, 10) :: bigint
  DuckDB: ('0x' || substring(md5(s), 1, 15)) :: BIGINT

15 hex digits = 60 bits, always < 2^63, so no sign issues on either side.

All helpers return Column expressions (JVM-side, whole-stage-codegen'd);
no Python UDFs here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_BITS = 60


def portable_hash(col: Column | str) -> Column:
    """60-bit integer hash of a string column, reproducible in DuckDB."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def portable_hash_sql(expr: str) -> str:
    """DuckDB SQL text equivalent of :func:`portable_hash`."""
    return f"CAST('0x' || substring(md5({expr}), 1, 15) AS BIGINT)"


def seeded_hash(col: Column | str, seed: int) -> Column:
    """Family of independent hash functions: h_seed(x) = H(seed || ':' || x)."""
    c = F.col(col) if isinstance(col, str) else col
    return portable_hash(F.concat(F.lit(f"{seed}:"), c))


def seeded_hash_sql(expr: str, seed: int) -> str:
    return portable_hash_sql(f"'{seed}:' || {expr}")

