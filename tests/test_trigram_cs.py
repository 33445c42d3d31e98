"""FTS5 trigram ``case_sensitive`` option parity (sqlite.org/fts5.html
§4.3.3), probed on the installed SQLite: ``case_sensitive 1`` indexes
RAW 3-codepoint windows (no fold), MATCH becomes case-sensitive, GLOB
acceleration stays sound (and tighter), and LIKE — case-insensitive by
nature — cannot use the index (SQLite's planner refuses it; the engine
mirrors that by falling back to the full-scan residual). The option is
parsed with FTS5's constructor-error behavior; ``remove_diacritics`` on
trigram is a NEWER SQLite feature the installed engine refuses, so this
engine refuses it identically.
"""

from __future__ import annotations

import re
import sqlite3

import pandas as pd
import pytest

from sparkgrep.functions.tokenizer import tokenize_py, validate_analyzer
from sparkgrep.operators.index_build import build_index
from sparkgrep.operators.like import glob_search, like_candidates, like_search
from sparkgrep.operators.query import InvertedIndex
from sparkgrep.sources.corpus import with_ingest_columns

TEXTS = [
    "Hello World",
    "hello world",
    "HELLO WORLD",
    "heLLo wOrld xyz",
    "SELECT * FROM Users WHERE Name LIKE 'A%'",
    "select * from users",
    "CamelCaseIdentifier camelcaseidentifier",
    "MixedCASE mixedcase MIXEDcase",
]


def _sqlite_cs(rows):
    db = sqlite3.connect(":memory:")
    db.execute(
        "CREATE VIRTUAL TABLE b USING "
        "fts5(content, tokenize='trigram case_sensitive 1')"
    )
    db.executemany(
        "INSERT INTO b(rowid, content) VALUES (?,?)", list(enumerate(rows))
    )
    return db


@pytest.fixture(scope="module")
def db():
    return _sqlite_cs(TEXTS)


def test_token_stream_parity(db):
    db.execute("CREATE VIRTUAL TABLE v USING fts5vocab(b, 'instance')")
    for i, text in enumerate(TEXTS):
        ref = [
            r[0]
            for r in db.execute(
                "SELECT term, offset FROM v WHERE doc = ? ORDER BY offset",
                (i,),
            )
        ]
        assert tokenize_py(text, "trigram case_sensitive 1") == ref, text
    # case_sensitive 0 is literally the default tokenizer
    for text in TEXTS:
        assert tokenize_py(text, "trigram case_sensitive 0") == tokenize_py(
            text, "trigram"
        )


def test_constructor_error_parity():
    for bad in (
        "trigram case_sensitive 2",
        "trigram case_sensitive ''",
        "trigram bogus 1",
        # remove_diacritics: valid in NEWER SQLite, refused by the
        # installed engine — refused here identically
        "trigram remove_diacritics 1",
    ):
        with pytest.raises(sqlite3.OperationalError):
            sqlite3.connect(":memory:").execute(
                f"CREATE VIRTUAL TABLE t USING fts5(c, tokenize={bad!r})"
            )
        with pytest.raises(ValueError):
            validate_analyzer(bad)


@pytest.fixture(scope="module")
def cs_index(spark, tmp_path_factory):
    pdf = pd.DataFrame(
        {
            "repo": "r",
            "path": [f"p/{i}" for i in range(len(TEXTS))],
            "commit": "c0",
            "lang": None,
            "content": TEXTS,
            "doc_id": range(len(TEXTS)),
        }
    )
    corpus = with_ingest_columns(spark.createDataFrame(pdf)).cache()
    out = str(tmp_path_factory.mktemp("tcs") / "idx")
    build_index(
        corpus, out, analyzer="trigram case_sensitive 1",
        idf_variant="fts5", n_buckets=4, store_positions=True,
    )
    return InvertedIndex(spark, out), corpus


@pytest.mark.parametrize(
    "query",
    ["Hello", "hello", "HELLO", "world", "World", '"heLLo wOrld"',
     "CamelCase", "camelcase", "mixedcase OR MixedCASE"],
)
def test_rank_identical_to_sqlite(db, cs_index, query):
    idx, _corpus = cs_index
    want = db.execute(
        "SELECT rowid, bm25(b) FROM b WHERE b MATCH ? "
        "ORDER BY bm25(b) ASC, rowid ASC LIMIT 20",
        (query,),
    ).fetchall()
    got = idx.search_expr(query, k=20).toPandas()
    assert got["doc_id"].tolist() == [r[0] for r in want], query
    for (_rid, fts), eng in zip(want, got["score"]):
        assert abs(-fts - eng) <= 1e-9, (query, fts, eng)


def test_glob_uses_index_and_matches_sqlite(db, cs_index):
    idx, corpus = cs_index
    for pattern in ("*ello Wo*", "*ELLO*", "SELECT*Users*", "*mixedcase*"):
        want = sorted(
            r[0]
            for r in db.execute(
                "SELECT rowid FROM b WHERE content GLOB ?", (pattern,)
            )
        )
        got = [r["doc_id"] for r in glob_search(idx, corpus, pattern).collect()]
        assert got == want, pattern


@pytest.mark.smoke
def test_like_falls_back_to_scan(cs_index):
    """A case-insensitive predicate cannot use raw-case trigrams:
    like_candidates refuses (None) and like_search stays exact via the
    full residual — SQLite's planner behavior on case_sensitive=1."""
    idx, corpus = cs_index
    assert like_candidates(idx, "%ello Wo%", case_insensitive=True) is None
    got = [
        r["doc_id"]
        for r in like_search(
            idx, corpus, "%ello wo%", case_insensitive=True
        ).collect()
    ]
    want = [
        i
        for i, t in enumerate(TEXTS)
        if re.search(re.escape("ello wo"), t, re.IGNORECASE)
    ]
    assert got == want
    # case-SENSITIVE like still prunes through the raw-case index
    cand = like_candidates(idx, "%ello Wo%", case_insensitive=False)
    assert cand is not None
    got_cs = [
        r["doc_id"] for r in like_search(idx, corpus, "%ello Wo%").collect()
    ]
    assert got_cs == [0]


@pytest.mark.smoke
def test_highlight_parity(db, cs_index):
    from sparkgrep.operators.snippet import search_highlight

    idx, corpus = cs_index
    for query in ("Hello", '"heLLo wOrld"'):
        ref = {
            r[0]: r[1]
            for r in db.execute(
                "SELECT rowid, highlight(b, 0, '[', ']') FROM b "
                "WHERE b MATCH ?",
                (query,),
            ).fetchall()
        }
        got = search_highlight(
            idx, corpus, query, k=20, mark_start="[", mark_end="]"
        ).collect()
        assert got, query
        for r in got:
            assert r["highlight"] == ref[r["doc_id"]], (query, r["doc_id"])
