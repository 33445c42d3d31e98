"""Resumable checkpointed builds: kill after N segments, resume, final
index byte-identical to a one-shot build (SURVEY §5.2 resume tests)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkgrep.operators.index_build import build_index
from sparkgrep.operators.query import InvertedIndex
from sparkgrep.plans.manifest import (
    build_index_checkpointed,
    completed_segments,
    read_manifest,
    segment_metrics,
)


def _postings_pdf(spark, d):
    return (
        InvertedIndex(spark, d)
        .postings.select("term", "shard", "df", "cf", "n", "doc_ids", "tfs", "dls")
        .toPandas()
        .sort_values(["term", "shard"])
        .reset_index(drop=True)
    )


def test_resume_produces_identical_index(spark, corpus, tmp_path):
    oneshot = str(tmp_path / "oneshot")
    build_index(corpus, oneshot, analyzer="simple", n_buckets=4)

    ckpt = str(tmp_path / "ckpt")
    # crash after 3 of 6 segments
    r = build_index_checkpointed(
        corpus, ckpt, analyzer="simple", n_segments=6,
        max_segments_this_run=3, n_buckets=4,
    )
    assert r is None
    assert completed_segments(ckpt) == {0, 1, 2}

    # resume: only missing segments run, then merge
    meta = build_index_checkpointed(corpus, ckpt, analyzer="simple", n_segments=6, n_buckets=4)
    assert meta is not None and meta.n_docs == 500
    assert completed_segments(ckpt) == set(range(6))

    assert _postings_pdf(spark, ckpt).equals(_postings_pdf(spark, oneshot))


def test_resume_skips_completed_work(spark, corpus, tmp_path):
    ckpt = str(tmp_path / "ckpt2")
    build_index_checkpointed(corpus, ckpt, analyzer="simple", n_segments=4, n_buckets=4)
    first = read_manifest(ckpt)
    # second run must not rebuild any segment
    build_index_checkpointed(corpus, ckpt, analyzer="simple", n_segments=4, n_buckets=4)
    assert read_manifest(ckpt) == first


def test_segment_metrics_lineage(spark, corpus, tmp_path):
    ckpt = str(tmp_path / "ckpt3")
    build_index_checkpointed(corpus, ckpt, analyzer="simple", n_segments=4, n_buckets=4)
    m = segment_metrics(spark, ckpt).toPandas().sort_values("segment_id")
    assert len(m) == 4
    assert m["n_docs"].sum() == 500
    assert (m["n_tokens"] > 0).all() and (m["n_postings"] > 0).all()
    assert m["content_hash"].nunique() == 4
    # queryable as a DataFrame (A7)
    tot = segment_metrics(spark, ckpt).agg(F.sum("n_tokens")).collect()[0][0]
    assert tot == 27939  # corpus total token count (matches corpus_stats)


def test_query_on_checkpointed_index(spark, corpus, tmp_path):
    ckpt = str(tmp_path / "ckpt4")
    build_index_checkpointed(corpus, ckpt, analyzer="simple", n_segments=3, n_buckets=4)
    res = InvertedIndex(spark, ckpt).search("hash join table", k=5).collect()
    assert len(res) == 5 and res[0]["rank"] == 1


def test_incremental_append_equals_full_rebuild(spark, tmp_path):
    """S6: append a new batch → results equal a from-scratch build over
    the union (stats, df, postings all refreshed exactly)."""
    from sparkgrep.plans.manifest import append_batch
    from sparkgrep.sources.corpus import synth_corpus

    all_docs = synth_corpus(spark, 400, seed=11)
    batch0 = all_docs.filter("doc_id < 300")
    batch1 = all_docs.filter("doc_id >= 300")

    inc = str(tmp_path / "inc")
    append_batch(batch0, inc, "b0", analyzer="code", n_buckets=4)
    meta = append_batch(batch1, inc, "b1", analyzer="code", n_buckets=4)
    assert meta.n_docs == 400

    full = str(tmp_path / "full")
    build_index(all_docs, full, analyzer="code", n_buckets=4)

    assert _postings_pdf(spark, inc).equals(_postings_pdf(spark, full))
    # re-appending an already-applied batch is a no-op for segments
    before = read_manifest(inc)
    append_batch(batch1, inc, "b1", analyzer="code", n_buckets=4)
    assert read_manifest(inc) == before


def test_metadata_io_via_hadoop_fs_uri(spark, corpus, tmp_path):
    """stats.json + manifest go through the Hadoop FileSystem API: an
    explicit file: URI (scheme-resolved like hdfs:// or s3a:// would be)
    must work end-to-end for build, load_meta, resume, and lineage."""
    from sparkgrep.operators.query import InvertedIndex
    from sparkgrep.plans.manifest import (
        build_index_checkpointed,
        read_manifest,
        segment_metrics,
    )
    from sparkgrep.sources import fsio

    out = "file:" + str(tmp_path / "hadoop_idx")
    meta = build_index_checkpointed(corpus.limit(60), out, n_segments=3, n_buckets=4)
    assert meta is not None and meta.n_docs == 60
    assert fsio.exists(f"{out}/stats.json")
    rows = read_manifest(out)
    assert [m["segment_id"] for m in rows] == [0, 1, 2]
    assert segment_metrics(spark, out).count() == 3
    idx = InvertedIndex(spark, out)
    assert idx.search("hash join", k=5).count() > 0


@pytest.mark.smoke
def test_fsio_atomic_roundtrip(spark, tmp_path):
    from sparkgrep.sources import fsio

    p = f"file:{tmp_path}/sub/dir/x.json"
    fsio.write_text(p, '{"a": 1}')
    assert fsio.exists(p)
    assert fsio.read_text(p) == '{"a": 1}'
    fsio.write_text(p, '{"a": 2}')  # overwrite via tmp+rename
    assert fsio.read_text(p) == '{"a": 2}'
    assert fsio.list_dir(f"file:{tmp_path}/sub/dir", ".json") == ["x.json"]
    assert fsio.list_dir(f"file:{tmp_path}/nope") == []


def test_resume_config_mismatch_fails_fast(spark, corpus, tmp_path):
    """ADVICE r4: a resume with a different analyzer or prefix= must
    refuse — mixed-config segments would merge into an index whose
    tokenization / marker derivation covers only part of the corpus."""
    ckpt = str(tmp_path / "ckpt_cfg")
    r = build_index_checkpointed(
        corpus, ckpt, analyzer="simple", n_segments=4,
        max_segments_this_run=2, n_buckets=4,
    )
    assert r is None
    with pytest.raises(ValueError, match="resume config mismatch"):
        build_index_checkpointed(
            corpus, ckpt, analyzer="porter", n_segments=4, n_buckets=4
        )
    with pytest.raises(ValueError, match="resume config mismatch"):
        build_index_checkpointed(
            corpus, ckpt, analyzer="simple", prefix=2, n_segments=4,
            n_buckets=4,
        )
    # the original config resumes fine
    meta = build_index_checkpointed(
        corpus, ckpt, analyzer="simple", n_segments=4, n_buckets=4
    )
    assert meta is not None and meta.n_docs == 500


def test_append_batch_inherits_index_config(spark, corpus, tmp_path):
    """ADVICE r4 (medium): append_batch without re-passing prefix= must
    inherit it from the root meta (like append_batch_delta) instead of
    silently rewriting stats.json with prefix=() while the old segments'
    marker rows still merge into the postings; an explicit mismatch
    raises."""
    from pyspark.sql import functions as F

    from sparkgrep.operators.index_build import load_meta
    from sparkgrep.plans.manifest import append_batch

    d = str(tmp_path / "appcfg")
    half = corpus.filter(F.col("doc_id") % 2 == 0)
    rest = corpus.filter(F.col("doc_id") % 2 == 1)
    build_index_checkpointed(
        half, d, analyzer="fts5", n_segments=2, n_buckets=4, prefix=2
    )
    assert tuple(load_meta(d).prefix) == (2,)
    # no analyzer/prefix passed: inherited, markers stay derived
    meta = append_batch(rest, d, "b1")
    assert tuple(meta.prefix) == (2,) and meta.analyzer == "fts5"
    assert meta.n_docs == 500
    idx = InvertedIndex(spark, d)
    assert idx.prefix_terms("th") == ["\x02th"]
    with pytest.raises(ValueError, match="append analyzer"):
        append_batch(rest, d, "b2", analyzer="simple")
    with pytest.raises(ValueError, match="append prefix"):
        append_batch(rest, d, "b2", prefix=3)


def test_trigram_prefix_guard_on_append_paths(spark, corpus, tmp_path):
    """ADVICE r4: the trigram+prefix refusal holds on every build path,
    not just build_index — markers could collide with real trigram
    tokens ('\\x02' is a legal trigram codepoint)."""
    d = str(tmp_path / "tgp")
    with pytest.raises(ValueError, match="trigram"):
        build_index_checkpointed(
            corpus, d, analyzer="trigram", prefix=2, n_segments=2,
            n_buckets=4,
        )


def test_append_batch_refuses_layered_and_segmentless_roots(
    spark, corpus, tmp_path
):
    """Review r5: append_batch re-merges segments/ wholesale, so on a
    layered/tombstoned root it would fold deleted docs back in and
    double-count delta batches, and on a root with NO segments (plain
    build_index) it would silently replace the index with just the new
    batch — both must raise toward append_batch_delta/compact."""
    from pyspark.sql import functions as F

    from sparkgrep.plans.manifest import (
        append_batch,
        append_batch_delta,
        delete_batch_delta,
    )

    half = corpus.filter(F.col("doc_id") % 2 == 0)
    rest = corpus.filter(F.col("doc_id") % 2 == 1)

    layered = str(tmp_path / "lay")
    build_index_checkpointed(half, layered, analyzer="simple", n_segments=2, n_buckets=4)
    append_batch_delta(rest, layered, "b1")
    with pytest.raises(ValueError, match="layered/tombstoned"):
        append_batch(rest, layered, "b2")

    tombed = str(tmp_path / "tmb")
    build_index_checkpointed(half, tombed, analyzer="simple", n_segments=2, n_buckets=4)
    delete_batch_delta(half.filter("doc_id < 20"), tombed, "d1")
    with pytest.raises(ValueError, match="layered/tombstoned"):
        append_batch(rest, tombed, "b2")

    plain = str(tmp_path / "pln")
    build_index(half, plain, analyzer="simple", n_buckets=4)
    with pytest.raises(ValueError, match="has none"):
        append_batch(rest, plain, "b1")


def test_checkpointed_resume_refuses_different_n_segments(
    spark, corpus, tmp_path
):
    """Review r5: resuming with a different n_segments re-slices the
    hash space — done segments and new ones overlap, silently
    duplicating docs. Must fail fast like the analyzer/prefix checks."""
    d = str(tmp_path / "nseg")
    r = build_index_checkpointed(
        corpus, d, analyzer="simple", n_segments=4, n_buckets=4,
        max_segments_this_run=2,
    )
    assert r is None  # interrupted
    with pytest.raises(ValueError, match="resume config mismatch"):
        build_index_checkpointed(
            corpus, d, analyzer="simple", n_segments=8, n_buckets=4
        )
    with pytest.raises(ValueError, match="resume config mismatch"):
        build_index_checkpointed(
            corpus, d, analyzer="simple", n_segments=4, n_buckets=4,
            use_lang=True,
        )
    meta = build_index_checkpointed(
        corpus, d, analyzer="simple", n_segments=4, n_buckets=4
    )
    assert meta is not None and meta.n_docs == corpus.count()
