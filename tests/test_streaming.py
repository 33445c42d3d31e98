"""Streaming ingest: micro-batch index maintenance must converge to the
same index a one-shot batch build produces (SURVEY §2.10 rationale in
sparkgrep/streaming/__init__.py)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from sparkgrep.operators import score as S
from sparkgrep.operators import stats as ST
from sparkgrep.operators.query import InvertedIndex
from sparkgrep.plans.manifest import read_manifest
from sparkgrep.streaming import index_stream


@pytest.mark.smoke
def test_stream_index_equals_batch_build(spark, corpus, tmp_path):
    src = str(tmp_path / "landing")
    out = str(tmp_path / "stream_idx")
    full = corpus.limit(120).cache()
    # two file "arrivals" in the landing zone
    full.filter(F.col("doc_id") < 60).coalesce(1).write.mode("overwrite").parquet(src)
    full.filter(F.col("doc_id") >= 60).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(src)
    )
    q = index_stream(stream, out, analyzer="simple", n_buckets=4)
    q.awaitTermination(120)
    time.sleep(0.5)

    rows = read_manifest(out)
    assert len(rows) >= 2  # one manifest segment per micro-batch
    assert sum(m["n_docs"] for m in rows) == 120
    assert all(str(m["segment_id"]).startswith("stream-") for m in rows)

    idx = InvertedIndex(spark, out)
    assert idx.meta.n_docs == 120
    got = idx.search("hash join table", k=10).toPandas()
    tf = ST.term_freqs(full, "simple")
    stats = ST.corpus_stats(ST.doc_lengths(full, "simple"))
    want = S.search(tf, stats, "hash join table", k=10).toPandas()
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert (got["score"].to_numpy() == want["score"].to_numpy()).all()


def test_stream_cdc_deletes_and_updates(spark, corpus, tmp_path):
    """CDC feed (op_col): the full trigger set the reference mirrors into
    its FTS table — micro-batch 0 bootstraps, micro-batch 1 carries
    deletes (original content, like the AFTER DELETE trigger's old.*),
    an update (delete-old + insert-new on the same doc_ids) and fresh
    inserts. The served index must equal a from-scratch build over the
    net corpus, and compaction must fold the tombstone away."""
    from sparkgrep.operators.index_build import build_index
    from sparkgrep.plans.manifest import compact_index

    src = str(tmp_path / "cdc_landing")
    out = str(tmp_path / "cdc_idx")
    full = corpus.limit(150).cache()
    base = full.filter("doc_id < 100")
    late = full.filter("doc_id >= 100")
    gone = base.filter("doc_id >= 20 and doc_id < 40")
    upd_old = base.filter("doc_id >= 50 and doc_id < 60")
    upd_new = upd_old.withColumn(
        "content", F.concat(F.col("content"), F.lit(" zebra zebra"))
    )

    b0 = base.withColumn("op", F.lit("insert"))
    b1 = (
        gone.withColumn("op", F.lit("delete"))
        .unionByName(upd_old.withColumn("op", F.lit("delete")))
        .unionByName(upd_new.withColumn("op", F.lit("insert")))
        .unionByName(late.withColumn("op", F.lit("insert")))
    )
    b0.coalesce(1).write.mode("overwrite").parquet(src)
    b1.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = index_stream(
        stream, out, analyzer="simple", n_buckets=4,
        store_positions=True, op_col="op",
    )
    q.awaitTermination(180)
    time.sleep(0.5)

    idx = InvertedIndex(spark, out)
    assert len(idx.meta.tombstones) == 1 and len(idx.meta.layers) == 1
    # net corpus: base minus deletes minus update-originals, plus the
    # updated versions and the late inserts
    final = (
        base.filter("doc_id < 20 or (doc_id >= 40 and doc_id < 50) or doc_id >= 60")
        .unionByName(upd_new)
        .unionByName(late)
    )
    ref_out = str(tmp_path / "cdc_ref")
    build_index(final, ref_out, analyzer="simple", n_buckets=4,
                store_positions=True)
    ref = InvertedIndex(spark, ref_out)
    assert idx.meta.n_docs == ref.meta.n_docs == 130
    assert idx.meta.avgdl == ref.meta.avgdl
    queries = ['"hash join" OR window', "hash NOT window", "zebra",
               "wind* scan", "hash join table"]
    pre = {}
    for qq in queries:
        got = idx.search_expr(qq, k=40).toPandas()
        want = ref.search_expr(qq, k=40).toPandas()
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), qq
        assert (got["score"].to_numpy() == want["score"].to_numpy()).all(), qq
        pre[qq] = got
    # the updated docs are found under their new vocabulary
    zebra_ids = set(pre["zebra"]["doc_id"])
    assert zebra_ids == set(range(50, 60))
    # compaction folds tombstone + delta physically, results byte-stable
    meta = compact_index(spark, out)
    assert meta.tombstones == () and meta.layers == ()
    idx2 = InvertedIndex(spark, out)
    for qq, want in pre.items():
        got = idx2.search_expr(qq, k=40).toPandas()
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), qq
        assert (got["score"].to_numpy() == want["score"].to_numpy()).all(), qq


def test_stream_cdc_rejects_invalid_ops_and_dup_inserts(spark, corpus, tmp_path):
    """Review r5: NULL / unknown op values were silently dropped or
    treated as inserts (three-valued logic), and multiple insert rows
    per doc_id in one micro-batch violated append_batch_delta's distinct
    contract silently. Both must fail the stream loudly."""
    import pytest

    # unknown + NULL ops
    src1 = str(tmp_path / "bad_ops")
    b = corpus.limit(10).withColumn(
        "op",
        F.when(F.col("doc_id") % 2 == 0, F.lit("update")).otherwise(
            F.lit(None).cast("string")
        ),
    )
    b.coalesce(1).write.mode("overwrite").parquet(src1)
    stream = spark.readStream.schema(b.schema).parquet(src1)
    q = index_stream(
        stream, str(tmp_path / "bad_idx"), analyzer="simple", n_buckets=4,
        op_col="op",
    )
    with pytest.raises(Exception, match="must be 'insert' or 'delete'"):
        q.awaitTermination(120)

    # duplicate insert doc_ids within one batch
    src2 = str(tmp_path / "dup_ins")
    ins = corpus.limit(5).withColumn("op", F.lit("insert"))
    ins.unionByName(ins).coalesce(1).write.mode("overwrite").parquet(src2)
    stream2 = spark.readStream.schema(ins.schema).parquet(src2)
    q2 = index_stream(
        stream2, str(tmp_path / "dup_idx"), analyzer="simple", n_buckets=4,
        op_col="op",
    )
    with pytest.raises(Exception, match="multiple insert rows share"):
        q2.awaitTermination(120)
