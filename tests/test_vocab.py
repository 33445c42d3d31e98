"""fts5vocab parity: the engine's vocabulary views reproduce SQLite's
fts5vocab virtual tables (row / col / instance) on the reference's own
80-email corpus in its real 3-column FTS5 shape
(message_manager.py:101-110), and stay exact through the LSM layers
(delta appends + tombstone deletes)."""

from __future__ import annotations

import base64
import json
import sqlite3

import pandas as pd
import pytest

from sparkgrep.operators.index_build import build_index
from sparkgrep.operators.query import InvertedIndex
from sparkgrep.operators.vocab import vocab

SAMPLE = "/root/reference/sample-messages.jsonl"
FIELDS = ["subject", "body_text", "sender"]


@pytest.fixture(scope="module")
def emails() -> pd.DataFrame:
    rows = []
    with open(SAMPLE) as f:
        for i, line in enumerate(f):
            if not line.strip():
                continue
            m = json.loads(line)
            body = base64.b64decode(m["body"]).decode("utf-8", errors="replace")
            rows.append(
                {
                    "doc_id": i,
                    "subject": m["subject"],
                    "body_text": body,
                    "sender": m["from"],
                }
            )
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def fts5_vocab(emails):
    db = sqlite3.connect(":memory:")
    db.execute(
        "CREATE VIRTUAL TABLE msgs USING fts5"
        "(subject, body_text, sender, tokenize='porter')"
    )
    db.executemany(
        "INSERT INTO msgs(rowid, subject, body_text, sender) VALUES (?,?,?,?)",
        list(emails.itertuples(index=False, name=None)),
    )
    for lvl in ("row", "col", "instance"):
        db.execute(
            f"CREATE VIRTUAL TABLE v_{lvl} USING fts5vocab(msgs, '{lvl}')"
        )
    return db


@pytest.fixture(scope="module")
def mc_index(spark, emails, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("vocab_mc")) + "/idx"
    df = spark.createDataFrame(emails)
    build_index(
        df, out, analyzer="fts5", fields=FIELDS,
        store_positions=True, n_buckets=8,
    )
    return InvertedIndex(spark, out)


def test_vocab_row_matches_fts5vocab(fts5_vocab, mc_index):
    want = {
        t: (d, c)
        for t, d, c in fts5_vocab.execute("SELECT term, doc, cnt FROM v_row")
    }
    got = {
        r["term"]: (r["doc"], r["cnt"])
        for r in vocab(mc_index, "row").collect()
    }
    assert got == want


def test_vocab_col_matches_fts5vocab(fts5_vocab, mc_index):
    want = {
        (t, c): (d, n)
        for t, c, d, n in fts5_vocab.execute(
            "SELECT term, col, doc, cnt FROM v_col"
        )
    }
    got = {
        (r["term"], r["col"]): (r["doc"], r["cnt"])
        for r in vocab(mc_index, "col").collect()
    }
    assert got == want


def test_vocab_instance_matches_fts5vocab(fts5_vocab, mc_index):
    want = sorted(
        fts5_vocab.execute("SELECT term, doc, col, offset FROM v_instance")
    )
    got = sorted(
        (r["term"], r["doc_id"], r["col"], r["offset"])
        for r in vocab(mc_index, "instance").collect()
    )
    assert got == want


# ---- single-field + LSM behavior --------------------------------------


@pytest.fixture(scope="module")
def synth(spark):
    from sparkgrep.sources.corpus import synth_corpus

    return synth_corpus(spark, 200, seed=11).cache()


@pytest.mark.smoke
def test_single_field_col_is_content(spark, synth, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("vocab_sf")) + "/idx"
    build_index(synth, out, analyzer="simple", store_positions=True)
    idx = InvertedIndex(spark, out)
    row = {r["term"]: (r["doc"], r["cnt"]) for r in vocab(idx, "row").collect()}
    col = vocab(idx, "col").collect()
    assert {r["col"] for r in col} == {"content"}
    assert {r["term"]: (r["doc"], r["cnt"]) for r in col} == row
    # instance offsets round-trip the tokenizer's positions
    from sparkgrep.functions.tokenizer import tokenize_py

    doc = synth.filter("doc_id = 3").select("content").collect()[0][0]
    toks = tokenize_py(doc, analyzer="simple")
    want = sorted((t, i) for i, t in enumerate(toks))
    got = sorted(
        (r["term"], r["offset"])
        for r in vocab(idx, "instance").filter("doc_id = 3").collect()
    )
    assert got == want


def test_vocab_exact_through_layers_and_tombstones(
    spark, synth, tmp_path_factory
):
    from pyspark.sql import functions as F

    from sparkgrep.plans.manifest import append_batch_delta, delete_batch_delta

    out = str(tmp_path_factory.mktemp("vocab_lsm")) + "/idx"
    append_batch_delta(
        synth.filter("doc_id % 3 != 1"), out, "b0", analyzer="simple"
    )
    append_batch_delta(synth.filter("doc_id % 3 = 1"), out, "b1")
    delete_batch_delta(synth.filter("doc_id % 7 = 2"), out, "b2")
    layered = InvertedIndex(spark, out)

    ref_dir = str(tmp_path_factory.mktemp("vocab_ref")) + "/idx"
    build_index(synth.filter("doc_id % 7 != 2"), ref_dir, analyzer="simple")
    ref = InvertedIndex(spark, ref_dir)

    for level in ("row", "col"):
        got = sorted(map(tuple, vocab(layered, level).collect()))
        want = sorted(map(tuple, vocab(ref, level).collect()))
        assert got == want, level
