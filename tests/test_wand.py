"""Pruned serving path must be rank- and score-identical to the exact
index path (pruning only removes provably-sub-θ docs)."""

from __future__ import annotations

import pytest

from sparkgrep.operators.index_build import build_index
from sparkgrep.operators.query import InvertedIndex
from sparkgrep.operators.wand import search_pruned

QUERIES = [
    "parse json config",
    "hash join build side",
    "varint codec shard",
    "scan filter sort spill batch",
    "zqzq nothing",
]


@pytest.fixture(scope="module")
def code_index(spark, code_corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("wand") / "idx")
    build_index(
        code_corpus, out, analyzer="code", n_buckets=8,
        idf_variant="lucene", postings_per_shard=100,
    )
    return InvertedIndex(spark, out)


@pytest.mark.parametrize("query", QUERIES)
def test_pruned_matches_exact(code_index, query):
    exact = code_index.search(query, k=10).toPandas()
    pruned = search_pruned(code_index, query, k=10).toPandas()
    assert pruned["doc_id"].tolist() == exact["doc_id"].tolist(), query
    assert (pruned["score"].to_numpy() == exact["score"].to_numpy()).all()


def test_okapi_falls_back(spark, corpus, tmp_path):
    out = str(tmp_path / "okidx")
    build_index(corpus, out, analyzer="simple", n_buckets=4, idf_variant="okapi")
    idx = InvertedIndex(spark, out)
    exact = idx.search("hash join table", k=5).toPandas()
    pruned = search_pruned(idx, "hash join table", k=5).toPandas()
    assert pruned["doc_id"].tolist() == exact["doc_id"].tolist()
    assert (pruned["score"].to_numpy() == exact["score"].to_numpy()).all()


@pytest.mark.smoke
def test_single_term_and_empty(code_index):
    assert search_pruned(code_index, "varint", k=5).count() == \
        code_index.search("varint", k=5).count()
    assert search_pruned(code_index, "  ", k=5).count() == 0


def test_batch_pruned_matches_exact_batch(code_index):
    """Batched MaxScore routing (one shared pass-1 + one shared pass-2
    job for the selective share, one fold job for the rest) must be
    bitwise-identical to the plain batched fold on a mixed workload."""
    batch = [(f"q{i}", q, 10) for i, q in enumerate(QUERIES)]
    exact = code_index.search_batch(batch).toPandas()
    pruned = code_index.search_batch(batch, pruned=True).toPandas()
    key = ["query_id", "rank"]
    exact = exact.sort_values(key).reset_index(drop=True)
    pruned = pruned.sort_values(key).reset_index(drop=True)
    assert pruned["doc_id"].tolist() == exact["doc_id"].tolist()
    assert (pruned["score"].to_numpy() == exact["score"].to_numpy()).all()
    # the planner must actually engage on the selective queries
    from sparkgrep.functions.tokenizer import tokenize_py
    from sparkgrep.operators.wand import plan_pruned

    engaged = [
        q for q in QUERIES
        if plan_pruned(
            code_index, sorted(set(tokenize_py(q, "code"))), 10
        ) is not None
    ]
    assert engaged, "no query engaged the MaxScore planner"
