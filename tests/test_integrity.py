"""FTS5 ``integrity-check`` analogue: the distributed audit recomputes
the expected index relation from the corpus through the declarative
path (tokens_col -> explode -> groupBy -- independent of the SPIMI
kernels and the varint codec) and joins it against the decoded
postings. A clean index yields ZERO discrepancy rows across every
storage configuration (positions, prefix markers, multi-field levels,
LSM layers + tombstones); a corpus/index divergence surfaces concrete
(term, doc_id) rows, FTS5's 'malformed inverted index' made precise.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkgrep.operators.index_build import build_index
from sparkgrep.operators.integrity import integrity_check
from sparkgrep.plans.manifest import (
    append_batch_delta,
    delete_batch_delta,
    merge_delta_layers,
)
from sparkgrep.sources.corpus import synth_corpus


@pytest.fixture(scope="module")
def corpus(spark):
    docs = synth_corpus(spark, 300, seed=91).cache()
    docs.count()
    return docs


def _check(corpus, out, **kw):
    return integrity_check(corpus, out, **kw).collect()


@pytest.mark.smoke
def test_clean_single_field_with_positions_and_prefix(spark, corpus, tmp_path):
    out = str(tmp_path / "idx")
    build_index(
        corpus, out, analyzer="simple", n_buckets=4,
        store_positions=True, prefix=[2, 3],
    )
    assert _check(corpus, out, check_positions=True) == []


@pytest.mark.parametrize("detail", ["full", "column", "none"])
def test_clean_multifield_levels(spark, corpus, detail, tmp_path):
    mc = corpus.withColumn("meta", F.concat_ws(" ", "lang", "path"))
    out = str(tmp_path / "idx")
    build_index(
        mc, out, analyzer="simple", fields=["meta", "content"],
        n_buckets=4, detail=detail,
    )
    assert _check(mc, out, check_positions=True) == []


def test_clean_through_lsm_layers(spark, corpus, tmp_path):
    """Appends, a tombstone delete, an update and an incremental merge:
    the audit must hold at every point, against the LIVE corpus."""
    out = str(tmp_path / "idx")
    build_index(
        corpus.filter("doc_id < 150"), out, analyzer="simple",
        n_buckets=4, store_positions=True,
    )
    append_batch_delta(corpus.filter("doc_id >= 150 and doc_id < 250"), out, "b1")
    live = corpus.filter("doc_id < 250")
    assert _check(live, out, check_positions=True) == []
    delete_batch_delta(corpus.filter("doc_id >= 100 and doc_id < 120"), out, "d1")
    live = live.filter("doc_id < 100 or doc_id >= 120")
    assert _check(live, out) == []
    append_batch_delta(corpus.filter("doc_id >= 250"), out, "b2")
    live = live.unionByName(corpus.filter("doc_id >= 250"))
    merge_delta_layers(spark, out)
    assert _check(live, out, check_positions=True) == []


def test_code_analyzer_with_lang(spark, corpus, tmp_path):
    out = str(tmp_path / "idx")
    build_index(corpus, out, analyzer="code", use_lang=True, n_buckets=4)
    assert _check(corpus, out, use_lang=True) == []


@pytest.mark.parametrize(
    "analyzer",
    ["unicode61 separators 'q'", "trigram case_sensitive 1"],
    ids=["u61-sep", "tri-cs"],
)
def test_clean_option_spec_analyzers(spark, corpus, analyzer, tmp_path):
    """The audit recomputes through tokens_col, which resolves
    parameterized analyzer specs — option-spec'd indexes verify clean
    end-to-end (spec stored in meta, applied identically both sides)."""
    out = str(tmp_path / "idx")
    build_index(corpus, out, analyzer=analyzer, n_buckets=4)
    assert _check(corpus, out) == []


def test_divergence_is_reported(spark, corpus, tmp_path):
    """Change one doc's content under the index: the audit pins the
    damage as posting rows for that doc, its doc_len row, and the
    stats:total_tokens row — nothing else."""
    out = str(tmp_path / "idx")
    build_index(corpus, out, analyzer="simple", n_buckets=4)
    tampered = corpus.withColumn(
        "content",
        F.when(
            F.col("doc_id") == 7, F.lit("entirely different xyzzy words")
        ).otherwise(F.col("content")),
    )
    rows = _check(tampered, out)
    kinds = {r["kind"] for r in rows}
    assert kinds == {"posting", "doc_len", "stats"}
    assert {r["doc_id"] for r in rows if r["kind"] == "posting"} == {7}
    assert [r["doc_id"] for r in rows if r["kind"] == "doc_len"] == [7]
    # the unseen token is reported as expected-but-absent
    assert any(
        r["term"] == "xyzzy" and r["actual"] is None
        for r in rows
        if r["kind"] == "posting"
    )
