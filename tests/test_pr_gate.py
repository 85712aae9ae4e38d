"""The P/R >= 0.95 correctness gate (BASELINE.json metric / north_rule).

Golden fixtures were generated once from the frozen pipeline semantics on
the 40-page evaluation corpus (fixtures/generator.py, seed 42) and are the
stand-in for "the reference's emitted triple set" — the reference itself
cannot run here (GPU BERT weights and CoreNLP are absent from the checkout;
see SURVEY.md §7 hard-parts).  Any semantic drift in extraction, linking,
scoring, or canonicalization shows up as P/R < 1.0 against these goldens.
"""

import hashlib
import json
import os

import pytest

from named_entity_discovery_and_linking_spark.fixtures.generator import kb_dfs, pages_df
from named_entity_discovery_and_linking_spark.operators.mentions import extract_text_df
from named_entity_discovery_and_linking_spark.plans.graph import kg_build

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "goldens")


@pytest.fixture(scope="module")
def produced(spark):
    pages = pages_df(spark, n_pages=40)
    triples = kg_build(pages, *kb_dfs(spark)).triples
    return pages, {
        (r["subj"], r["pred"], str(r["obj"]), round(r["conf"], 6)) for r in triples.collect()
    }


def test_triple_pr_gate(produced):
    _, got = produced
    with open(os.path.join(GOLDEN_DIR, "golden_triples_n40.jsonl")) as f:
        golden = {tuple(json.loads(line)) for line in f}
    tp = len(got & golden)
    precision = tp / len(got)
    recall = tp / len(golden)
    assert precision >= 0.95, f"triple precision {precision:.4f} < 0.95"
    assert recall >= 0.95, f"triple recall {recall:.4f} < 0.95"


def test_text_byte_identity(spark, produced):
    """input_hint invariant: byte-identical extracted text per url."""
    pages, _ = produced
    with open(os.path.join(GOLDEN_DIR, "golden_text_hashes_n40.json")) as f:
        golden = json.load(f)
    got = {
        r["url"]: hashlib.sha256(r["text_extracted"].encode()).hexdigest()
        for r in extract_text_df(pages).collect()
    }
    assert got == golden
