"""Crash safety of the delta/tombstone batch commit (plans/manifest.py
finish_pending_batch / _write_batch_marker).

append_batch_delta and delete_batch_delta write their replay-idempotency
token — the segment manifest entry — BEFORE their real commit point (the
root stats.json write). Before the marker protocol, a crash in that
window made every replay of the batch a silent no-op against a root that
never received it: the batch was lost forever, and a bootstrap crash
wedged the index (manifest entry over a missing stats.json). The
protocol under test: a marker carrying the pre-chosen target brackets
the window; finish_pending_batch (called by both ops and by every
maintenance entry point via _load_meta_healed) either confirms the
commit (target in the root meta → drop marker) or rolls the batch back
to a replayable state.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import sparkgrep.plans.manifest as manifest
from sparkgrep.operators.index_build import build_index
from sparkgrep.operators.query import InvertedIndex
from sparkgrep.plans.manifest import (
    BATCH_MARKER,
    append_batch_delta,
    compact_index,
    delete_batch_delta,
    read_manifest,
)
from sparkgrep.sources import fsio
from sparkgrep.sources.corpus import synth_corpus

QS = ["hash join table", "window scan", "hash NOT window"]


@pytest.fixture(scope="module")
def corpus(spark):
    docs = synth_corpus(spark, 250, seed=31).cache()
    docs.count()
    return docs


@pytest.fixture(scope="module")
def batch2(spark):
    b = synth_corpus(spark, 40, seed=37).withColumn(
        "doc_id", F.col("doc_id") + F.lit(2000)
    ).cache()
    b.count()
    return b


def _results(spark, out, k=25):
    idx = InvertedIndex(spark, out)
    return {q: idx.search_expr(q, k=k).toPandas() for q in QS}


def _assert_equal_results(spark, a_dir, b_dir):
    ra, rb = _results(spark, a_dir), _results(spark, b_dir)
    for q in QS:
        assert ra[q]["doc_id"].tolist() == rb[q]["doc_id"].tolist(), q
        assert (
            ra[q]["score"].to_numpy() == rb[q]["score"].to_numpy()
        ).all(), q


def _crash_root_meta(monkeypatch):
    """Raise from the ROOT stats.json write only (the delta layer's own
    stats.json goes through index_build's writer, untouched)."""
    real = manifest._write_root_meta

    def boom(out_dir, meta):
        raise RuntimeError("injected crash before root commit")

    monkeypatch.setattr(manifest, "_write_root_meta", boom)
    return real


def test_append_crash_before_root_commit_replay_applies(
    spark, corpus, batch2, tmp_path_factory, monkeypatch
):
    """The historically-lost window: segment manifest entry written,
    root meta not. The replay must REDO the batch (pre-fix it silently
    no-opped and the batch was gone), ending identical to an uncrashed
    twin."""
    out = str(tmp_path_factory.mktemp("ac1") / "idx")
    twin = str(tmp_path_factory.mktemp("ac1t") / "idx")
    for d in (out, twin):
        build_index(corpus, d, analyzer="simple", n_buckets=4)
    _crash_root_meta(monkeypatch)
    with pytest.raises(RuntimeError, match="injected"):
        append_batch_delta(batch2, out, "b2")
    monkeypatch.undo()
    # crash state: token present without the commit, marker pending
    assert "b2-0" in {m["segment_id"] for m in read_manifest(out)}
    assert fsio.exists(f"{out}/{BATCH_MARKER}")
    # replay heals (unstages) then redoes the batch
    append_batch_delta(batch2, out, "b2")
    assert not fsio.exists(f"{out}/{BATCH_MARKER}")
    append_batch_delta(batch2, twin, "b2")
    _assert_equal_results(spark, out, twin)


def test_delete_crash_before_root_commit_replay_applies(
    spark, corpus, tmp_path_factory, monkeypatch
):
    out = str(tmp_path_factory.mktemp("dc1") / "idx")
    twin = str(tmp_path_factory.mktemp("dc1t") / "idx")
    for d in (out, twin):
        build_index(corpus, d, analyzer="simple", n_buckets=4)
    doomed = corpus.filter("doc_id < 40")
    _crash_root_meta(monkeypatch)
    with pytest.raises(RuntimeError, match="injected"):
        delete_batch_delta(doomed, out, "d1")
    monkeypatch.undo()
    assert fsio.exists(f"{out}/{BATCH_MARKER}")
    delete_batch_delta(doomed, out, "d1")  # replay must actually delete
    delete_batch_delta(doomed, twin, "d1")
    _assert_equal_results(spark, out, twin)
    assert InvertedIndex(spark, out).meta.n_docs == 210


@pytest.mark.smoke
def test_bootstrap_crash_replay_recovers(
    spark, corpus, tmp_path_factory, monkeypatch
):
    """First-ever batch crashing after the segment commit used to wedge
    the index: the replay hit the manifest token and load_meta raised on
    the missing stats.json. Now the replay bootstraps cleanly."""
    out = str(tmp_path_factory.mktemp("bc1") / "idx")
    real = manifest.merge_and_write

    def boom(*a, **k):
        raise RuntimeError("injected crash before bootstrap merge")

    monkeypatch.setattr(manifest, "merge_and_write", boom)
    with pytest.raises(RuntimeError, match="injected"):
        append_batch_delta(corpus, out, "b0")
    monkeypatch.setattr(manifest, "merge_and_write", real)
    append_batch_delta(corpus, out, "b0")  # replay, not FileNotFoundError
    ref = str(tmp_path_factory.mktemp("bc1r") / "idx")
    build_index(corpus, ref, analyzer="simple", n_buckets=64)
    _assert_equal_results(spark, out, ref)


def test_crash_after_commit_is_not_double_applied(
    spark, corpus, batch2, tmp_path_factory, monkeypatch
):
    """Crash between the root commit and the marker removal: the heal
    must recognize the commit (target in meta.layers) and make the
    replay a NO-OP — never a second application."""
    out = str(tmp_path_factory.mktemp("ac2") / "idx")
    twin = str(tmp_path_factory.mktemp("ac2t") / "idx")
    for d in (out, twin):
        build_index(corpus, d, analyzer="simple", n_buckets=4)
    real_delete = fsio.delete

    def boom(path):
        if path.endswith(BATCH_MARKER):
            raise RuntimeError("injected crash before marker removal")
        return real_delete(path)

    monkeypatch.setattr(manifest.fsio, "delete", boom)
    with pytest.raises(RuntimeError, match="injected"):
        append_batch_delta(batch2, out, "b2")
    monkeypatch.undo()
    assert fsio.exists(f"{out}/{BATCH_MARKER}")  # committed, marker stuck
    meta = append_batch_delta(batch2, out, "b2")  # replay: must no-op
    assert not fsio.exists(f"{out}/{BATCH_MARKER}")
    assert len(meta.layers or ()) == 1  # one delta layer, not two
    append_batch_delta(batch2, twin, "b2")
    _assert_equal_results(spark, out, twin)


def test_maintenance_op_heals_crashed_batch(
    spark, corpus, batch2, tmp_path_factory, monkeypatch
):
    """A compaction after a crashed (uncommitted) append must fold the
    pre-batch state cleanly AND leave the batch replayable — pre-fix the
    surviving manifest token made the later replay a silent no-op, losing
    the batch despite the caller's retry."""
    out = str(tmp_path_factory.mktemp("mh1") / "idx")
    twin = str(tmp_path_factory.mktemp("mh1t") / "idx")
    for d in (out, twin):
        build_index(corpus, d, analyzer="simple", n_buckets=4)
        delete_batch_delta(corpus.filter("doc_id < 30"), d, "d1")
    _crash_root_meta(monkeypatch)
    with pytest.raises(RuntimeError, match="injected"):
        append_batch_delta(batch2, out, "b2")
    monkeypatch.undo()
    compact_index(spark, out)  # heals first (rolls the batch back)
    assert not fsio.exists(f"{out}/{BATCH_MARKER}")
    assert "b2-0" not in {m["segment_id"] for m in read_manifest(out)}
    append_batch_delta(batch2, out, "b2")  # retry applies for real
    compact_index(spark, twin)
    append_batch_delta(batch2, twin, "b2")
    _assert_equal_results(spark, out, twin)
