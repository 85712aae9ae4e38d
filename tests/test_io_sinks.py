"""Table materialization sinks (sources/io.py): Iceberg-guarded format
switch and the dynamic-partition-overwrite resume contract (north_rule /
DEVIATIONS #9)."""

import os

from pyspark.sql import functions as F

from named_entity_discovery_and_linking_spark.sources.io import (
    bucketize,
    iceberg_available,
    write_table,
)


def test_format_guard_falls_back_to_parquet(spark, tmp_path):
    """No Iceberg runtime jar in this sandbox -> the guard reports False and
    write_table lands parquet with the same partitioned layout; call sites
    never name a format."""
    assert iceberg_available(spark) is False
    df = spark.range(10).withColumn("bucket", (F.col("id") % 2).cast("int"))
    path = str(tmp_path / "t")
    write_table(df, path, partition_by=["bucket"])
    # hive-style partition dirs, parquet files inside
    assert sorted(d for d in os.listdir(path) if d.startswith("bucket=")) \
        == ["bucket=0", "bucket=1"]
    back = spark.read.parquet(path)
    assert back.count() == 10


def test_dynamic_partition_overwrite_replaces_only_written(spark, tmp_path):
    """Overwrite-by-filter emulation: rewriting bucket 1 must not touch
    bucket 0 (the lineage resume unit)."""
    path = str(tmp_path / "t")
    full = spark.createDataFrame(
        [(0, "a"), (0, "b"), (1, "c")], "bucket int, v string"
    )
    write_table(full, path, partition_by=["bucket"])
    patch = spark.createDataFrame([(1, "C2"), (1, "C3")], "bucket int, v string")
    write_table(patch, path, partition_by=["bucket"])
    got = {(r["bucket"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {(0, "a"), (0, "b"), (1, "C2"), (1, "C3")}


def test_bucketize_deterministic_and_bounded(spark):
    df = bucketize(spark.createDataFrame(
        [("u1",), ("u2",), ("u3",)], "url string"), n_buckets=8)
    rows = {r["url"]: r["bucket"] for r in df.collect()}
    again = {r["url"]: r["bucket"]
             for r in bucketize(df.select("url").repartition(3), n_buckets=8).collect()}
    assert rows == again                      # content-derived, not order-derived
    assert all(0 <= b < 8 for b in rows.values())


def test_compact_table_rewrites_small_files(spark, tmp_path):
    """compact_table: many tiny appended files -> few files, identical
    rows, claim released afterwards; an already-compact dir is a no-op."""
    from named_entity_discovery_and_linking_spark.sources.fs import get_filesystem
    from named_entity_discovery_and_linking_spark.sources.io import compact_table

    path = str(tmp_path / "t")
    df = spark.range(200).withColumn("v", F.col("id") * 2)
    for i in range(8):  # 8 append jobs -> many small files
        df.filter(F.col("id") % 8 == i).coalesce(2).write.mode("append").parquet(path)
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    stats = compact_table(spark, path, target_mb=256)
    assert stats["files_before"] > stats["files_after"] >= 1
    assert not stats["skipped"]
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert before == after
    # claim released: a second compaction is a clean no-op, not a lock error
    stats2 = compact_table(spark, path, target_mb=256)
    assert stats2["skipped"]
    fs = get_filesystem(path)
    assert not fs.exists(path + ".__compact_claim")


def test_compact_table_refuses_concurrent_claim(spark, tmp_path):
    from named_entity_discovery_and_linking_spark.sources.fs import get_filesystem
    from named_entity_discovery_and_linking_spark.sources.io import compact_table

    path = str(tmp_path / "t2")
    for i in range(4):
        spark.range(50).write.mode("append").parquet(path)
    fs = get_filesystem(path)
    assert fs.try_create_claim(path + ".__compact_claim", "other")
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="another compaction"):
            compact_table(spark, path, target_mb=256)
    finally:
        fs.break_claim_if(path + ".__compact_claim", "other")


def test_write_ntriples_escaping_and_mapping(spark, tmp_path):
    """N-Triples sink: pred mapping (rdf:type -> W3C IRI, anchorOf ->
    literal, linksTo/sameAs -> entity IRIs), ECHAR literal escaping, and
    IRIREF percent-encoding must produce parseable lines."""
    from named_entity_discovery_and_linking_spark.sources.io import write_ntriples

    triples = spark.createDataFrame(
        [
            ("m1", "rdf:type", "PER", 0.9, "u1", 0, 3),
            ("m1", "aida:anchorOf", 'say "hi"\n\tok \\ done', 0.9, "u1", 0, 3),
            ("m1", "aida:linksTo", "E 1<x>", 0.8, "u1", 0, 3),
            ("m2", "aida:sameAs", "E2", 1.0, "u2", 4, 8),
        ],
        "subj string, pred string, obj string, conf double, "
        "url string, char_begin int, char_end int",
    )
    out = str(tmp_path / "nt")
    write_ntriples(triples, out)
    lines = sorted(r.value for r in spark.read.text(out).collect())
    base = "http://example.org/ndl/"
    assert lines == sorted([
        f"<{base}mention/m1> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{base}type/PER> .",
        f'<{base}mention/m1> <{base}anchorOf> "say \\"hi\\"\\n\\tok \\\\ done" .',
        f"<{base}mention/m1> <{base}linksTo> <{base}entity/E%201%3Cx%3E> .",
        f"<{base}mention/m2> <{base}sameAs> <{base}entity/E2> .",
    ])
    # every line matches the N-Triples statement grammar
    import re

    pat = re.compile(r'^<[^<>"{}|^`\\\x00-\x20]+> <[^<>"{}|^`\\\x00-\x20]+> '
                     r'(<[^<>"{}|^`\\\x00-\x20]+>|"(?:[^"\\\n\r]|\\.)*") \.$')
    for ln in lines:
        assert pat.match(ln), ln


def test_write_ntriples_roundtrip_from_build_graph(spark):
    """The real triples frame serializes without loss: one line per triple,
    no unescaped quotes/newlines leak through."""
    import tempfile

    from named_entity_discovery_and_linking_spark.fixtures.generator import (
        kb_dfs,
        pages_df,
    )
    from named_entity_discovery_and_linking_spark.plans.graph import kg_build
    from named_entity_discovery_and_linking_spark.sources.io import write_ntriples

    triples = kg_build(pages_df(spark, n_pages=12), *kb_dfs(spark)).triples
    n = triples.count()
    with tempfile.TemporaryDirectory() as td:
        out = f"{td}/nt"
        write_ntriples(triples, out)
        got = spark.read.text(out)
        assert got.count() == n
        assert got.filter(~F.col("value").rlike(r" \.$")).count() == 0


def test_write_ntriples_randomized_lossless_roundtrip(spark, tmp_path):
    """Randomized sweep (seeded): arbitrary nasty literals and entity ids
    must survive serialize -> parse -> unescape byte-identically.  One
    DataFrame for all cases (not per-example Spark jobs)."""
    import random
    import re
    import urllib.parse

    from named_entity_discovery_and_linking_spark.sources.io import write_ntriples

    rng = random.Random(20260818)
    alphabet = (
        'abc XYZ 123 "quote" \\ \n \r \t <angle> {brace} |pipe| ^caret^ `tick` '
        "%percent% é中文\U0001f600"
    )
    cases = []
    for i in range(200):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
        cases.append((f"m{i}", "aida:anchorOf" if i % 2 else "aida:linksTo", s))
    rows = [(m, p, o, 1.0, "u", 0, 1) for m, p, o in cases]
    triples = spark.createDataFrame(
        rows, "subj string, pred string, obj string, conf double, "
              "url string, char_begin int, char_end int")
    out = str(tmp_path / "nt_rand")
    write_ntriples(triples, out)
    lines = [r.value for r in spark.read.text(out).collect()]
    assert len(lines) == len(cases)

    lit_re = re.compile(r'^<([^>]*)> <[^>]*> "((?:[^"\\]|\\.)*)" \.$', re.S)
    iri_re = re.compile(r'^<([^>]*)> <[^>]*> <([^>]*)> \.$')
    unesc = {"\\\\": "\\", '\\"': '"', "\\n": "\n", "\\r": "\r", "\\t": "\t"}
    got = {}
    for ln in lines:
        m = lit_re.match(ln)
        if m:
            body = re.sub(r"\\.", lambda mo: unesc[mo.group(0)], m.group(2))
        else:
            m = iri_re.match(ln)
            assert m, ln
            body = urllib.parse.unquote(
                m.group(2).rsplit("/entity/", 1)[1] if "/entity/" in m.group(2)
                else m.group(2))
        mid = urllib.parse.unquote(m.group(1).rsplit("/mention/", 1)[1])
        got[mid] = body
    for mid, _, obj in cases:
        assert got[mid] == obj, (mid, repr(obj), repr(got[mid]))
