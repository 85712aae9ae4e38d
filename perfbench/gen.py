"""Seeded input generators for the three workloads.

Each generator is a pure function of the seed and writes its inputs once per
seed under ``<data root>/<workload>-s<seed>/``; later runs with the same seed
reuse them.  Parquet is written with pyarrow, so no Spark session is started
for input generation and none of it is timed.

* ``kg_batch`` uses the package's own page generator
  (``fixtures.generator.make_pages``): ~30% of pages on one hot domain,
  ~10% non-English, one over-long document and one document past the
  character cap, a promotable unlinked name ("Zorylenko") every 17th page.
  The first pages are also written one per file for the traced run's
  stream step.
* ``curate`` builds documents with planted recrawls, exact and near
  duplicates, shared boilerplate lines, short low-quality texts and
  benchmark-contaminated texts, plus one embedding per document with planted
  near-duplicate vectors.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload (README.md has the runs these were chosen from).
# ``stream_pages`` one-page files make two micro-batches of the stream step
# (``read_page_stream`` takes 16 files per trigger).
SIZES = {
    "kg_batch": {"pages": 160, "stream_pages": 32},
    "curate": {"docs": 600, "dim": 16},
}
TAKEDOWN_SHARE = 0.01
# make_pages plants its over-long (7) and over-cap (11) documents at fixed
# indices; the tagger emits nothing for the over-cap one, so a takedown
# list avoids both to keep "matched" equal to "English".
_OVER_CAP = 11
_EDGE_PAGES = (7, _OVER_CAP)
_PROMOTED = "Zorylenko"  # planted on every 17th page, in >= 5 documents

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


def _write_pages(rows, path):
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_SCHEMA), path)


def _takedown_urls(rows, rng):
    """~1% of the corpus urls; always at least one non-English one, whose
    rows never reach any table (the tagger skips non-English pages)."""
    n = max(2, round(len(rows) * TAKEDOWN_SHARE))
    cand = [r for i, r in enumerate(rows) if i not in _EDGE_PAGES]
    non_eng = [r for r in cand if r["lang"] != "eng"]
    picked = [rng.choice(non_eng)] if non_eng else []
    rest = [r for r in cand if r not in picked]
    picked += rng.sample(rest, n - len(picked))
    return sorted(r["url"] for r in picked), sorted(
        r["url"] for r in picked if r["lang"] != "eng")


def _gen_kg_batch(seed, d):
    from named_entity_discovery_and_linking_spark.fixtures.generator import make_pages

    size = SIZES["kg_batch"]
    rows = make_pages(seed=seed, n_pages=size["pages"])
    os.makedirs(os.path.join(d, "pages"))
    _write_pages(rows, os.path.join(d, "pages", "part-00000.parquet"))
    os.makedirs(os.path.join(d, "stream"))
    for i, r in enumerate(rows[:size["stream_pages"]]):
        _write_pages([r], os.path.join(d, "stream", f"part-{i:05d}.parquet"))
    urls, non_eng = _takedown_urls(rows, random.Random(seed * 7919 + 1))
    eng = [i for i, r in enumerate(rows) if r["lang"] == "eng"]
    return {"pages": len(rows), "takedown_urls": urls,
            "takedown_non_english": non_eng,
            "non_english_urls": sorted(r["url"] for r in rows if r["lang"] != "eng"),
            # English pages the tagger emits mentions for (all but the over-cap one)
            "tagged_pages": sum(1 for i in eng if i != _OVER_CAP),
            "promoted_name": _PROMOTED,
            "promoted_urls": sorted(rows[i]["url"] for i in eng if _PROMOTED in rows[i]["text"]),
            "stream_files": min(size["stream_pages"], len(rows)),
            "stream_urls": sorted(r["url"] for r in rows[:size["stream_pages"]])}


_STOP = ["the", "a", "and", "of", "to", "in", "is"]
_BOILER = [
    "home | news | sports | weather | contact us",
    "all rights reserved by the example media group",
    "subscribe to our newsletter for the latest updates",
    "share this story on social media",
    "cookies help us deliver our services",
]


def _vocab(rng, n=600):
    cons, vows = "bcdfghjklmnprstvz", "aeiou"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(cons) + rng.choice(vows)
                          for _ in range(rng.randrange(2, 4))))
    return sorted(words)


def _gen_curate(seed, d):
    size = SIZES["curate"]
    rng = random.Random(seed * 104729 + 3)
    vocab = _vocab(rng)

    def line(nw):
        ws = [rng.choice(vocab) for _ in range(nw)]
        for _ in range(2):
            ws.insert(rng.randrange(len(ws)), rng.choice(_STOP))
        return " ".join(ws)

    bench = [(f"b{i}", " ".join(rng.choice(vocab) for _ in range(12))) for i in range(12)]
    base_ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    docs, plant = [], {"recrawl": 0, "exact": 0, "near": 0, "short": 0, "contam": 0}
    for i in range(size["docs"]):
        roll = rng.random()
        url = f"https://site{rng.randrange(60)}.example.net/doc/{i:06d}"
        content = [line(rng.randrange(8, 12)) for _ in range(4)]
        src = docs[rng.randrange(len(docs))] if docs else None
        if src is not None and roll < 0.03:
            plant["recrawl"] += 1  # same url crawled again later
            url, content = src["url"], src["_content"][:]
        elif src is not None and roll < 0.06:
            plant["exact"] += 1
            content = src["_content"][:]
        elif src is not None and roll < 0.11:
            plant["near"] += 1
            content = src["_content"][:]
            j = len(content) // 2
            ws = content[j].split()
            ws[rng.randrange(len(ws))] = rng.choice(vocab)
            content[j] = " ".join(ws)
        elif roll < 0.15:
            plant["short"] += 1
            content = [line(4)]
        elif roll < 0.17:
            plant["contam"] += 1
            content[2] = rng.choice(bench)[1]
        lines = [b for b in _BOILER if rng.random() < 0.3] + content
        docs.append({
            "doc_id": i, "url": url,
            "warc_ts": base_ts + dt.timedelta(minutes=i),
            "text": "\n".join(lines), "lang": "en" if rng.random() < 0.9 else "de",
            "_content": content,
        })
    os.makedirs(os.path.join(d, "docs"))
    pq.write_table(pa.Table.from_pylist(
        [{k: v for k, v in r.items() if k != "_content"} for r in docs],
        schema=pa.schema([("doc_id", pa.int64()), ("url", pa.string()),
                          ("warc_ts", pa.timestamp("us", tz="UTC")),
                          ("text", pa.string()), ("lang", pa.string())]),
    ), os.path.join(d, "docs", "part-00000.parquet"))
    os.makedirs(os.path.join(d, "bench"))
    pq.write_table(pa.table({"bench_id": [b for b, _ in bench], "text": [t for _, t in bench]}),
                   os.path.join(d, "bench", "part-00000.parquet"))

    # one embedding per document; 5% are near-duplicates of an earlier one
    dim, vecs, n_near = size["dim"], [], 0
    for i in range(len(docs)):
        if vecs and rng.random() < 0.05:
            n_near += 1
            v = [x + rng.gauss(0, 0.01) for x in vecs[rng.randrange(len(vecs))]]
        else:
            v = [rng.gauss(0, 1) for _ in range(dim)]
        vecs.append(v)
    os.makedirs(os.path.join(d, "emb"))
    pq.write_table(pa.table({"vec_id": pa.array(range(len(vecs)), pa.int64()),
                             "embedding": pa.array(vecs, pa.list_(pa.float64()))}),
                   os.path.join(d, "emb", "part-00000.parquet"))
    latest = {r["url"]: r["doc_id"] for r in docs}
    urls = sorted(rng.sample(sorted({r["url"] for r in docs}),
                             max(2, round(len(docs) * TAKEDOWN_SHARE))))
    return {"docs": len(docs), "vectors": len(vecs), "dim": dim,
            "planted": dict(plant, near_vectors=n_near), "takedown_urls": urls,
            # earlier crawls of a recrawled url: the latest crawl wins
            "superseded_ids": sorted(set(range(len(docs))) - set(latest.values())),
            "takedown_non_english": []}


GENERATORS = {"kg_batch": _gen_kg_batch, "curate": _gen_curate}


def _dir_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)


def ensure_inputs(root: str, workload: str, seed: int) -> tuple[str, dict]:
    """Generate the inputs of ``workload`` for ``seed`` unless present;
    returns ``(dir, manifest)``.  Generation goes to a temporary directory
    that is renamed into place, so an interrupted run leaves nothing
    half-written behind."""
    d = os.path.join(root, f"{workload}-s{seed}")
    man_path = os.path.join(d, "manifest.json")
    if not os.path.exists(man_path):
        import shutil

        tmp = f"{d}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        man = GENERATORS[workload](seed, tmp)
        man["bytes"] = _dir_bytes(tmp)
        man["seed"] = seed
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(man, fh, sort_keys=True)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(man_path) as fh:
        return d, json.load(fh)
