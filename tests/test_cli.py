"""The spark-submit-able CLI drives the full index lifecycle.

Each subcommand runs in-process (``main(argv, spark=...)`` — the
session-injection seam exists exactly so these tests don't pay a JVM
per invocation; tests/test_spark_submit.py covers the real
``spark-submit --py-files`` path) and its stdout is asserted against
the library API it wraps. The append → delete → compact sequence pins
the CLI's LSM story to the library's bit-identical guarantees.

Reference analogue: the ingestion entry point + interactive search CLI
(Instructions.md; reference cli.py) and the FTS5 triggers
(message_manager.py:113-137).
"""

from __future__ import annotations

import io
import json
from contextlib import redirect_stdout

import pytest

from sparkgrep.cli import main
from sparkgrep.operators.query import InvertedIndex
from sparkgrep.sources.corpus import documents_as_corpus, with_ingest_columns


def run_cli(spark, *argv: str) -> tuple[int, str]:
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(list(argv), spark=spark)
    return rc, buf.getvalue()


def _hits(out: str) -> list[tuple[int, float]]:
    rows = []
    for line in out.strip().splitlines():
        if "doc=" in line:
            parts = line.split()
            rows.append(
                (int(parts[1].split("=")[1]), float(parts[2].split("=")[1]))
            )
    return rows


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("cli")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sf = str(d / "sf")
    # `build --input` takes an sf dir (documents.parquet in testdata shape)
    docs.filter("doc_id < 400").write.parquet(f"{sf}/documents.parquet")
    # append/delete take CORPUS-shaped batches (doc_id + indexed columns)
    held_out = with_ingest_columns(
        documents_as_corpus(docs.filter("doc_id >= 400"))
    ).cache()
    held_out.count()
    held_out.write.parquet(str(d / "batch_new"))
    held_out.filter("doc_id < 430").write.parquet(str(d / "batch_del"))
    held_out.unpersist()
    idx = str(d / "idx")
    rc, out = run_cli(
        spark, "build", "--input", sf, "--out", idx,
        "--analyzer", "code", "--buckets", "8", "--positions",
    )
    assert rc == 0
    meta = json.loads(out.strip().splitlines()[-1])
    assert meta["n_docs"] == 400 and meta["analyzer"] == "code"
    return {"idx": idx, "new": str(d / "batch_new"), "del": str(d / "batch_del")}


def test_query_matches_library(spark, built):
    rc, out = run_cli(
        spark, "query", "--index", built["idx"], "--query", "hash query",
        "-k", "5",
    )
    assert rc == 0
    got = _hits(out)
    idx = InvertedIndex(spark, built["idx"])
    want = [
        (r["doc_id"], float(f"{r['score']:.6f}"))
        for r in idx.search("hash query", 5).collect()
    ]
    assert got == want and len(got) == 5


def test_query_expr_pruned_serve_agree(spark, built):
    q = ("--index", built["idx"], "--query", "window OR spill", "-k", "5")
    rc, out = run_cli(spark, "query", *q, "--mode", "expr")
    assert rc == 0
    expr = _hits(out)
    rc, out = run_cli(
        spark, "query", "--index", built["idx"], "--query", "window spill",
        "-k", "5", "--pruned",
    )
    assert rc == 0
    pruned = _hits(out)
    rc, out = run_cli(spark, "serve", *q)
    assert rc == 0
    served = _hits(out)
    assert expr == pruned == served and len(expr) == 5


def test_append_delete_compact_lifecycle(spark, built):
    # append the held-out 70 docs as a delta layer
    rc, out = run_cli(
        spark, "append", "--index", built["idx"], "--input", built["new"],
        "--batch", "b1",
    )
    assert rc == 0
    meta = json.loads(out.strip().splitlines()[-1])
    assert meta["n_docs"] == 500 and meta["layers"]

    # delete 30 of them via a tombstone layer (original content)
    rc, out = run_cli(
        spark, "delete", "--index", built["idx"], "--input", built["del"],
        "--batch", "b2",
    )
    assert rc == 0
    meta = json.loads(out.strip().splitlines()[-1])
    assert meta["n_docs"] == 470 and meta["tombstones"]

    idx = InvertedIndex(spark, built["idx"])
    layered = [
        (r["doc_id"], r["score"]) for r in idx.search("hash query", 10).collect()
    ]
    assert layered and all(not (400 <= d < 430) for d, _ in layered)

    # compact folds layers + tombstones; queries byte-identical
    rc, out = run_cli(spark, "compact", "--index", built["idx"])
    assert rc == 0
    meta = json.loads(out.strip().splitlines()[-1])
    assert not meta["layers"] and not meta["tombstones"]
    compacted = [
        (r["doc_id"], r["score"])
        for r in InvertedIndex(spark, built["idx"]).search("hash query", 10).collect()
    ]
    assert compacted == layered


def test_metrics_lineage(spark, built):
    rc, out = run_cli(spark, "metrics", "--index", built["idx"])
    assert rc == 0
    rows = [json.loads(x) for x in out.strip().splitlines()]
    assert rows and all("segment_id" in r and "n_postings" in r for r in rows)


def test_append_rejects_bad_batch(spark, built, tmp_path):
    bad = str(tmp_path / "bad")
    spark.range(3).write.parquet(bad)
    with pytest.raises(SystemExit, match="lacks column"):
        run_cli(
            spark, "append", "--index", built["idx"], "--input", bad,
            "--batch", "bx",
        )


def test_like_glob_subcommands(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("clitri")
    sf = "/root/testdata/sf0.001"
    idx = str(d / "tidx")
    rc, _ = run_cli(
        spark, "build", "--input", sf, "--out", idx,
        "--analyzer", "trigram", "--positions", "--buckets", "4",
    )
    assert rc == 0
    rc, out = run_cli(
        spark, "like", "--index", idx, "--input", sf,
        "--pattern", "%hash join%",
    )
    assert rc == 0
    like_ids = [int(x) for x in out.split()]
    rc, out = run_cli(
        spark, "glob", "--index", idx, "--input", sf,
        "--pattern", "*hash join*",
    )
    assert rc == 0
    assert [int(x) for x in out.split()] == like_ids and len(like_ids) == 24


@pytest.mark.smoke
def test_session_not_stopped_when_injected(spark, built):
    # the injection seam must never stop the caller's session
    run_cli(spark, "metrics", "--index", built["idx"])
    assert not spark.sparkContext._jsc.sc().isStopped()


def test_cli_build_segments_rejects_positions_and_detail(spark, tmp_path):
    """Review r5: --positions/--detail were silently DISCARDED on the
    checkpointed (--segments) path; phrase queries then failed later
    with no hint the build flag never applied."""
    with pytest.raises(SystemExit, match="does not support"):
        run_cli(
            spark, "build", "--input", "/root/testdata/sf0.001", "--out",
            str(tmp_path / "i1"), "--segments", "2", "--positions",
        )
    with pytest.raises(SystemExit, match="does not support"):
        run_cli(
            spark, "build", "--input", "/root/testdata/sf0.001", "--out",
            str(tmp_path / "i2"), "--segments", "2", "--detail", "none",
        )
