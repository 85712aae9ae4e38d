"""spark-submit entrypoint: the full KG-construction job with lineage.

Deployment (north_star contract):

  zip -r ndl.zip named_entity_discovery_and_linking_spark
  spark-submit --py-files ndl.zip \
      --conf spark.sql.shuffle.partitions=<2-3x total cores> \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.adaptive.skewJoin.enabled=true \
      -m named_entity_discovery_and_linking_spark ... (or this file) \
      --pages /path/to/pages_parquet --out /path/to/output \
      [--kb entities.tab --aliases alternate_names.tab] [--buckets 256]

Stages (``plans.graph.kg_build``, resumable): mentions and kb_links
(bucket-resumable via the lineage table) -> links -> clusters/entities ->
triples + nodes/edges tables.  Re-running after a kill skips completed
buckets and overwrites only recomputed partitions.
"""

from __future__ import annotations

import argparse
import os
import sys


def _load_kb(spark, args):
    """(kb, aliases) frames from ``--kb``/``--aliases``, or the fixture KB
    when ``--kb`` is not given; ``--kb`` without ``--aliases`` has no
    aliases."""
    if not args.kb:
        from .fixtures.generator import kb_dfs

        return kb_dfs(spark)
    from .sources.kb_tsv import load_aliases_tab, load_entities_tab

    aliases = (
        load_aliases_tab(spark, args.aliases)
        if args.aliases
        else spark.createDataFrame([], "eid string, alias string")
    )
    return load_entities_tab(spark, args.kb), aliases


def _parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="named_entity_discovery_and_linking_spark")
    ap.add_argument("--run-csr", dest="run_csr", action="store_true",
                    help="CSR linking mode (linking.py:480-700 --run_csr equivalent)")
    ap.add_argument("--lang", choices=["en", "ru", "uk", "img"], default="en",
                    help="CSR language route (run_linking.sh arg 3)")
    ap.add_argument("--in-dir", dest="in_dir", default=None, help="CSR input dir (*.csr.json)")
    ap.add_argument("--pages", default=None, help="parquet dir with (url, warc_ts, html, text, lang)")
    ap.add_argument("--ltf-dir", dest="ltf_dir", default=None,
                    help="directory of LDC LTF XML files (ner_bert_run.sh input; "
                         "parsed into the pages table, SRC1/SRC4)")
    ap.add_argument("--mentions-json", dest="mentions_json", action="store_true",
                    help="also write per-document mention JSON files "
                         "(SNK1, main.py:286 shape) under <out>/mentions_json/")
    ap.add_argument("--stream", action="store_true",
                    help="run the KG build as a stream over --pages (file "
                         "source, availableNow): exactly-once batch_id "
                         "partitions under <out>/triples")
    ap.add_argument("--reconcile-every", dest="reconcile_every", type=int,
                    default=None, metavar="N",
                    help="with --stream: every N micro-batches, bring the "
                         "global aida:sameAs closure across ALL batches up to "
                         "date and rewrite affected partitions (cross-batch "
                         "canonicalization; per-batch mentions/links persist "
                         "under <out>/_stream_state)")
    ap.add_argument("--query", nargs=2, action="append", metavar=("NAME", "TYPE"),
                    help="one-shot linker probe (repeatable) — the --query REPL "
                         "of linking.py:753-759; prints every ranked candidate")
    ap.add_argument("--map-file", dest="map_file", default=None,
                    help="audit CSV of (name, concept) pairs "
                         "(linking.py:769-807; type from filename)")
    ap.add_argument("--curate", action="store_true",
                    help="corpus-curation mode (plans/curation.curate_corpus): "
                         "url hygiene -> line dedup -> quality filter -> "
                         "content dedup -> decontamination -> sampling; writes "
                         "flags/curated/report tables under --out")
    ap.add_argument("--benchmark", default=None,
                    help="parquet of (bench_id, text) eval items to "
                         "decontaminate against (empty set if omitted)")
    ap.add_argument("--sample-rate", dest="sample_rate", type=float, default=1.0,
                    help="deterministic keep rate for the final hash sample")
    ap.add_argument("--stream-curate", dest="stream_curate", action="store_true",
                    help="incremental curation over a growing crawl dir: "
                         "cross-batch url/content dedup state lives in the "
                         "stream checkpoint, so re-running against the same "
                         "--out continues the dedup history")
    ap.add_argument("--takedown", default=None, metavar="URLS_FILE",
                    help="one-shot: remove every row derived from the urls "
                         "listed in URLS_FILE (one per line) from the "
                         "materialized tables under --out (and the stream "
                         "state of a --stream out dir); every table is "
                         "rewritten only in the partition dirs that hold a "
                         "listed url's row, keeping its layout; orphaned "
                         "nodes are GC'd")
    ap.add_argument("--skew-report", dest="skew_report", default=None, metavar="KEY",
                    help="one-shot diagnostic: print hot-key stats and the "
                         "recommended salt factor for shuffling --pages on "
                         "KEY (e.g. lang, url), then exit")
    ap.add_argument("--ntriples", action="store_true",
                    help="also serialize the triples table as RDF N-Triples "
                         "text under <out>/triples_nt/ (standard KG-loader "
                         "interchange)")
    ap.add_argument("--graph-stats", dest="graph_stats", action="store_true",
                    help="after the batch build, print a JSON summary of the "
                         "materialized nodes/edges tables (degree "
                         "distribution, per-relation counts, top hubs)")
    ap.add_argument("--out", default=None, help="output root (tables written under it)")
    ap.add_argument("--kb", default=None, help="entities.tab path (fixture KB if omitted)")
    ap.add_argument("--aliases", default=None, help="alternate_names.tab path")
    ap.add_argument("--buckets", type=int, default=64, help="url-hash lineage buckets")
    ap.add_argument("--master", default=None)
    return ap


def main(argv=None):
    ap = _parser()
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from .plans.graph import kg_build
    from .session import _ship_package, get_spark
    from .sources.io import write_table

    active = SparkSession.getActiveSession()
    if active is not None:  # launched via spark-submit: session already configured
        spark = active
        _ship_package(spark)
    else:
        spark = get_spark("ndl-kg-job", master=args.master)

    if args.query or args.map_file:
        from .operators.linking import audit_map_file, query_kb

        kb, aliases = _load_kb(spark, args)
        if args.query:
            out = query_kb(spark, kb, aliases, [tuple(q) for q in args.query])
        else:
            out = audit_map_file(spark, kb, aliases, args.map_file)
        from .plans.csr import guarded_collect

        rows = guarded_collect(out.orderBy("q_name", "rank"), "the probe REPL")
        for r in rows:
            print("\t".join("none" if v is None else str(v) for v in r))
        if args.query:
            hit = {r["q_name"] for r in rows}
            for name, typ in args.query:
                if name not in hit:
                    print(f"{name}\t{typ}\tnone")  # the REPL prints 'none'
        return 0

    if not args.out and not args.skew_report:
        ap.error("--out is required for job modes")
    if args.takedown:
        import json

        from .plans.takedown import takedown_urls

        with open(args.takedown) as fh:
            urls = [ln.strip() for ln in fh if ln.strip()]
        removed = takedown_urls(spark, args.out, urls)
        print(json.dumps(removed, sort_keys=True))
        return 0
    if args.run_csr:
        if not args.in_dir:
            ap.error("--run-csr requires --in-dir")
        from .plans.csr import run_csr

        n = run_csr(spark, args.in_dir, args.out, args.lang, *_load_kb(spark, args))
        print(f"done: {n} CSR files -> {args.out}")
        return 0

    if not args.pages and not args.ltf_dir:
        ap.error("--pages or --ltf-dir is required (or use --run-csr)")
    if args.stream_curate:
        if not args.pages:
            ap.error("--stream-curate requires --pages (the watched crawl dir)")
        from .streaming.stream_curate import run_curate_stream

        run_curate_stream(
            spark, args.pages, os.path.join(args.out, "curated"),
            os.path.join(args.out, "_curate_checkpoint"),
            sample_rate=args.sample_rate,
        )
        n = spark.read.parquet(os.path.join(args.out, "curated")).count()
        print(f"done (stream-curate): {n} docs kept -> {args.out}")
        return 0
    if args.curate:
        if not args.pages:
            ap.error("--curate requires --pages")
        from pyspark.sql import functions as F

        from .plans.curation import curate_corpus

        docs = spark.read.parquet(args.pages)
        id_col = "doc_id" if "doc_id" in docs.columns else "url"
        if "url" not in docs.columns:
            # no crawl url: synthesize a unique one so the url-dedup stage
            # degenerates to a no-op instead of failing the contract.
            # md5 of the id, NOT the raw id (advisor r6 #2): normalize_url
            # lowercases the scheme://host prefix and strips fragments /
            # trailing slashes, so raw string ids differing only in case or
            # containing '#'/'?'/'/' would collapse to one url_norm and be
            # silently dropped; a hex digest is invariant under all of it.
            docs = docs.withColumn(
                "url", F.concat(F.lit("id://"), F.md5(F.col(id_col).cast("string")))
            )
        if args.benchmark:
            bench = spark.read.parquet(args.benchmark)
        else:
            bench = spark.createDataFrame([], "bench_id string, text string")
        flags, curated, report = curate_corpus(
            docs, bench, id_col=id_col, sample_rate=args.sample_rate,
            # pages-shaped input: latest crawl wins the recrawl collapse
            ts_col="warc_ts" if "warc_ts" in docs.columns else None,
        )
        write_table(flags, os.path.join(args.out, "curation_flags"))
        write_table(curated, os.path.join(args.out, "curated"))
        write_table(report, os.path.join(args.out, "curation_report"))
        funnel = {
            r["drop_stage"]: r["n"]
            for r in flags.groupBy("drop_stage").agg(F.count("*").alias("n")).collect()
        }
        print(f"done (curate): funnel {funnel} -> {args.out}")
        return 0
    if args.stream:
        if not args.pages:
            ap.error("--stream requires --pages (a parquet directory the "
                     "file source watches)")
        from .streaming.stream_mentions import stream_triples

        kb, aliases = _load_kb(spark, args)
        stream_triples(
            spark, args.pages, os.path.join(args.out, "triples"),
            os.path.join(args.out, "_stream_checkpoint"), kb, aliases,
            state_dir=(os.path.join(args.out, "_stream_state")
                       if args.reconcile_every else None),
            reconcile_every=args.reconcile_every,
        )
        n = spark.read.parquet(os.path.join(args.out, "triples")).count()
        print(f"done (stream): {n} triples -> {args.out}")
        return 0
    if args.ltf_dir:
        from .sources.ltf_xml import ltf_dir_to_pages

        pages = ltf_dir_to_pages(spark, args.ltf_dir)
    else:
        pages = spark.read.parquet(args.pages)

    if args.skew_report:
        import json

        from .plans.metrics import skew_report

        print(json.dumps(skew_report(pages, args.skew_report), sort_keys=True))
        return 0

    kg = kg_build(pages, *_load_kb(spark, args), resume=(args.out, args.buckets))
    if args.mentions_json:
        from .sources.json_compat import write_mention_json_dir

        write_mention_json_dir(kg.mentions, os.path.join(args.out, "mentions_json"))
    for table in ("links", "triples", "nodes", "edges"):
        write_table(getattr(kg, table), os.path.join(args.out, table))
    if args.ntriples:
        from .sources.io import write_ntriples

        write_ntriples(kg.triples, os.path.join(args.out, "triples_nt"))

    if args.graph_stats:
        import json

        from .plans.graph import graph_stats

        st = graph_stats(
            spark.read.parquet(os.path.join(args.out, "nodes")),
            spark.read.parquet(os.path.join(args.out, "edges")),
        )
        print(json.dumps(st, sort_keys=True))

    n = spark.read.parquet(os.path.join(args.out, "triples")).count()
    print(f"done: {n} triples -> {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
