"""On-disk format of every index table (``fsio.write_parquet``).

Pinned here:

1. Through a whole LSM cycle — build → append → delete → merge → purge
   → compact — every parquet file under the index root holds only zstd
   column chunks, and every postings file's rows ascend by
   ``(term, shard)`` (tight per-row-group ``term`` statistics). Each
   op's ``n_terms`` equals its term_ubs sidecar's row count, now that
   the count rides the sidecar write instead of reading it back.
2. An index whose postings, doc_lens and term_ubs files were written
   with another codec (snappy, as indexes built before zstd were) keeps
   answering bitwise like an untouched copy through append, delete,
   purge and compact, and the files purge and compaction write are zstd.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import pyarrow.parquet as pq
import pytest

from sparkgrep.operators.index_build import build_index
from sparkgrep.operators.query import InvertedIndex
from sparkgrep.operators.serve import LocalServer
from sparkgrep.plans.manifest import (
    append_batch_delta,
    compact_index,
    delete_batch_delta,
    merge_delta_layers,
)
from sparkgrep.plans.purge import purge_deleted
from sparkgrep.sources.corpus import synth_corpus

FIELDS = ["title", "body"]


def _parquet_files(root: str) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for d, _dirs, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


def _codecs(path: str) -> set[str]:
    md = pq.ParquetFile(path).metadata
    return {
        md.row_group(g).column(c).compression
        for g in range(md.num_row_groups)
        for c in range(md.num_columns)
    }


def _assert_layout(root: str) -> None:
    files = _parquet_files(root)
    assert any("/postings/" in p for p in files)
    for p in files:
        assert _codecs(p) <= {"ZSTD"}, (p, _codecs(p))
        if "/postings/" in p:
            t = pq.ParquetFile(p).read(columns=["term", "shard"])
            keys = list(zip(t["term"].to_pylist(), t["shard"].to_pylist()))
            assert all(a < b for a, b in zip(keys, keys[1:])), p


def _sidecar_terms(spark, d: str) -> int:
    return spark.read.parquet(f"{d}/term_ubs").count()


def _layer_n_terms(d: str) -> int:
    with open(f"{d}/stats.json") as f:
        return json.load(f)["n_terms"]


def _two_field_docs(spark, n: int = 120):
    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(160)] + ["alpha", "beta", "gamma", "delta"]
    rows = [
        (
            i,
            " ".join(rng.choices(vocab, k=rng.randint(1, 5))),
            " ".join(rng.choices(vocab, k=rng.randint(4, 30))),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, title string, body string").cache()


SHAPES = {
    # two-field detail='full': the per-field columns and position streams
    "two_field_full": (
        _two_field_docs,
        dict(fields=FIELDS, detail="full", analyzer="fts5", idf_variant="fts5",
             n_buckets=4),
    ),
    # single-field, no positions: the fused build path; a small shard
    # size splits hot terms so a file holds several shards per term
    "single_field_fused": (
        lambda spark: synth_corpus(spark, 120, seed=19, words_per_doc=40).cache(),
        dict(analyzer="simple", n_buckets=4, postings_per_shard=16),
    ),
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_layout_through_lsm_cycle(spark, tmp_path, shape):
    make_docs, kw = SHAPES[shape]
    docs = make_docs(spark)
    out = str(tmp_path / "idx")

    meta = build_index(docs.filter("doc_id < 60"), out, **kw)
    _assert_layout(out)
    assert meta.n_terms == _sidecar_terms(spark, out) > 0

    for lo, hi, bid in ((60, 90, "a1"), (90, 120, "a2")):
        meta = append_batch_delta(
            docs.filter(f"doc_id >= {lo} and doc_id < {hi}"), out, bid
        )
        _assert_layout(out)
        d = f"{out}/{meta.layers[-1]}"
        assert _layer_n_terms(d) == _sidecar_terms(spark, d) > 0
    # the root's n_terms is the layers' summed vocabulary (an upper bound)
    assert meta.n_terms == sum(
        _sidecar_terms(spark, d)
        for d in [out] + [f"{out}/{lay}" for lay in meta.layers]
    )

    delete_batch_delta(docs.filter("doc_id % 7 = 3"), out, "d1")
    _assert_layout(out)

    meta = merge_delta_layers(spark, out)
    assert len(meta.layers) == 1 and meta.layers[0].startswith("delta/m")
    _assert_layout(out)
    d = f"{out}/{meta.layers[0]}"
    assert _layer_n_terms(d) == _sidecar_terms(spark, d) > 0

    stats = purge_deleted(spark, out)
    assert stats["postings_files_rewritten"] > 0
    _assert_layout(out)

    meta = compact_index(spark, out)
    _assert_layout(out)
    assert meta.n_terms == _sidecar_terms(spark, out) > 0


def _rewrite_snappy(root: str) -> int:
    """Rewrite the base layer's tables as snappy with pyarrow, same rows;
    drops each file's stale Hadoop checksum."""
    n = 0
    for table in ("postings", "doc_lens", "term_ubs"):
        for p in _parquet_files(f"{root}/{table}"):
            pq.write_table(pq.ParquetFile(p).read(), p, compression="snappy")
            d, name = os.path.split(p)
            crc = os.path.join(d, f".{name}.crc")
            if os.path.exists(crc):
                os.remove(crc)
            n += 1
    return n


QS = ["alpha w3 w17", "w5"]
EXPR_QS = ['"alpha beta" OR w3', "title:alpha", "NEAR(w1 w2, 6)", "w1*", "alpha NOT w4"]


def _answers(spark, out):
    idx = InvertedIndex(spark, out)
    srv = LocalServer(idx)
    got = {}
    for q in QS:
        got[("search", q)] = idx.search(q, k=20).toPandas()
        got[("serve", q)] = srv.search(q, k=20)
    for q in EXPR_QS:
        got[("search_expr", q)] = idx.search_expr(q, k=20).toPandas()
        got[("serve_expr", q)] = srv.search_expr(q, k=20)
    return {
        key: (pdf["doc_id"].tolist(), pdf["score"].tolist())
        for key, pdf in got.items()
    }


def test_snappy_index_reads_beside_zstd_layers(spark, tmp_path):
    docs = _two_field_docs(spark)
    _make, kw = SHAPES["two_field_full"]
    old = str(tmp_path / "old")
    build_index(docs.filter("doc_id < 80"), old, **kw)
    ref = str(tmp_path / "ref")
    shutil.copytree(old, ref)
    assert _rewrite_snappy(old) > 0
    assert set().union(*map(_codecs, _parquet_files(old))) == {"SNAPPY"}
    assert _answers(spark, old) == _answers(spark, ref)

    for out in (old, ref):
        append_batch_delta(docs.filter("doc_id >= 80"), out, "a1")
        delete_batch_delta(docs.filter("doc_id % 5 = 1"), out, "d1")
    want = _answers(spark, ref)
    assert any(ids for ids, _ in want.values())
    assert _answers(spark, old) == want

    before = set(_parquet_files(old))
    for out in (old, ref):
        assert purge_deleted(spark, out)["postings_files_rewritten"] > 0
    written = [p for p in _parquet_files(old) if p not in before]
    assert any("/postings/" in p for p in written)
    assert all(_codecs(p) == {"ZSTD"} for p in written)
    assert _answers(spark, old) == _answers(spark, ref)

    for out in (old, ref):
        compact_index(spark, out)
    assert all(_codecs(p) <= {"ZSTD"} for p in _parquet_files(old))
    assert _answers(spark, old) == _answers(spark, ref)
