"""Exact BM25 path vs the pure-pandas oracle: rank-identical docIDs,
scores to 1e-9 (north rule). Covers reference behavioral specs:
relevance ordering (test_message_manager.py:324-336), limit (:315-322),
no-match → empty (:270-276), match-or-drop (message_manager.py:240)."""

from __future__ import annotations

import pandas as pd
import pytest

from sparkgrep.operators import score as S
from sparkgrep.operators import stats as ST
from tests.oracle import bm25_oracle

QUERIES = [
    "hash join table",
    "spark query filter sort",
    "the",            # hot token (df ≈ N → negative okapi idf)
    "window merge",
    "zqzqzq nothing",  # no-match → empty (reference :270-276)
]


@pytest.fixture(scope="module")
def prepared(corpus):
    tf = ST.term_freqs(corpus, "simple").cache()
    stats = ST.corpus_stats(ST.doc_lengths(corpus, "simple"))
    docs_pdf = corpus.select("doc_id", "content").toPandas()
    return tf, stats, docs_pdf


@pytest.mark.parametrize("query", QUERIES)
@pytest.mark.parametrize("idf_variant", ["okapi", "lucene"])
def test_rank_identity_vs_oracle(prepared, query, idf_variant):
    tf, stats, docs_pdf = prepared
    k = 10
    got = (
        S.search(tf, stats, query, k=k, analyzer="simple", idf_variant=idf_variant)
        .toPandas()
    )
    want = bm25_oracle(docs_pdf, query, k=k, analyzer="simple", idf_variant=idf_variant)
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert got["rank"].tolist() == want["rank"].tolist()
    assert (got["score"] - want["score"]).abs().max() <= 1e-9 or want.empty


@pytest.mark.smoke
def test_limit(prepared):
    tf, stats, _ = prepared
    assert S.search(tf, stats, "the table", k=3).count() == 3


def test_no_match_empty(prepared):
    tf, stats, _ = prepared
    assert S.search(tf, stats, "zqzqzq", k=10).count() == 0


def test_empty_query_empty_result(prepared):
    # FTS5 errors on empty MATCH; engine contract: empty DataFrame
    tf, stats, _ = prepared
    assert S.search(tf, stats, "  !!! ", k=10).count() == 0


def test_scores_monotone_nonincreasing(prepared):
    tf, stats, _ = prepared
    scores = [r["score"] for r in S.search(tf, stats, "hash join table", k=20).collect()]
    assert scores == sorted(scores, reverse=True)


def test_determinism_across_partitionings(spark, corpus, prepared):
    """Same input, different partitioning → byte-identical top-k
    (stands in for the N vs 4N determinism gate, SURVEY §5.2)."""
    _, stats, _ = prepared
    q = "spark query filter sort"
    results = []
    for nparts in (1, 7):
        tf_n = ST.term_freqs(corpus.repartition(nparts), "simple")
        pdf = S.search(tf_n, stats, q, k=10).toPandas()
        results.append(pdf)
    a, b = results
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    assert (a["score"] == b["score"]).all()  # exactly equal, not just close


def test_join_back(prepared, corpus):
    tf, stats, _ = prepared
    res = S.search(tf, stats, "hash join", k=5)
    full = S.join_back(res, corpus)
    assert full.count() == 5
    assert set(full.columns) >= {"doc_id", "content", "rank", "score"}
