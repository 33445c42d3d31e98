"""Trigram tokenizer family: parity against the real SQLite fts5
``tokenize='trigram'`` engine (public SQLite feature, fts5 docs §4.3.3)
on the reference's own 80-email corpus, plus the LIKE-acceleration
operator built on it.

Pinned semantics (all probed against SQLite 3.40):

- every contiguous 3-codepoint window after a 1:1 simple case fold is a
  token; whitespace/punctuation are token chars; no diacritic removal;
- a bareword is the PHRASE of its trigrams (so <3-cp words match
  nothing and are dropped from conjuncts exactly like empty phrases);
- ``X*`` is score-identical to ``X`` (a 3-cp prefix over 3-cp terms is
  exact), and the full grammar (OR/NOT/NEAR/^) composes over trigram
  phrases unchanged;
- fts5's bareword-as-phrase reading also applies to the ``fts5``
  analyzer (``foo_bar`` = phrase "foo bar" under porter — fixed this
  round; the engine-defined simple/code analyzers keep their documented
  AND reading).
"""

from __future__ import annotations

import base64
import json
import re
import sqlite3

import pandas as pd
import pytest

from sparkgrep.functions.tokenizer import tokenize_py
from sparkgrep.operators.like import like_search, literal_runs
from sparkgrep.operators.query import InvertedIndex

SAMPLE = "/root/reference/sample-messages.jsonl"


@pytest.fixture(scope="module")
def emails() -> pd.DataFrame:
    from sparkgrep.functions.html import html_to_text_py

    rows = []
    with open(SAMPLE) as f:
        for i, line in enumerate(f):
            if not line.strip():
                continue
            m = json.loads(line)
            body = base64.b64decode(m["body"]).decode("utf-8", errors="replace")
            rows.append({"doc_id": i, "content": html_to_text_py(body)})
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def fts5_tri(emails):
    db = sqlite3.connect(":memory:")
    db.execute("CREATE VIRTUAL TABLE b USING fts5(content, tokenize='trigram')")
    db.executemany(
        "INSERT INTO b(rowid, content) VALUES (?,?)",
        list(emails[["doc_id", "content"]].itertuples(index=False, name=None)),
    )
    return db


@pytest.fixture(scope="module")
def tri_index(spark, emails, tmp_path_factory):
    from sparkgrep.operators.index_build import build_index
    from sparkgrep.sources.corpus import with_ingest_columns

    pdf = emails.copy()
    pdf["repo"] = "inbox"
    pdf["path"] = pdf["doc_id"].map(lambda i: f"mail/{i}")
    pdf["commit"] = "c0"
    pdf["lang"] = None
    corpus = with_ingest_columns(
        spark.createDataFrame(
            pdf[["repo", "path", "commit", "lang", "content", "doc_id"]]
        )
    ).cache()
    out = str(tmp_path_factory.mktemp("tri") / "idx")
    build_index(
        corpus, out, analyzer="trigram", idf_variant="fts5",
        n_buckets=8, store_positions=True,
    )
    return InvertedIndex(spark, out), corpus


def test_tokenizer_matches_fts5vocab(emails, fts5_tri):
    """Token-EXACT: every (term, offset) the engine emits equals what
    the real trigram tokenizer stored, for all 80 docs."""
    con = fts5_tri
    con.execute(
        "CREATE VIRTUAL TABLE IF NOT EXISTS bv USING fts5vocab(b, 'instance')"
    )
    ref: dict[int, list[str]] = {}
    for term, doc, off in con.execute("SELECT term, doc, offset FROM bv"):
        ref.setdefault(doc, [])
        lst = ref[doc]
        while len(lst) <= off:
            lst.append(None)
        lst[off] = term
    for r in emails.itertuples():
        assert tokenize_py(r.content, "trigram") == ref.get(r.doc_id, []), r.doc_id


TRI_QUERIES = [
    "receipt",
    '"thank you"',
    "receipt OR unsubscribe",
    "unsubscribe NOT weekly",
    "confirm* OR receipt",          # prefix ≡ plain phrase
    "the",                          # hot trigrams → clamped idf path
    "NEAR(thank you, 5)",
    "^dear",                        # initial-token anchor
    "order AND (shipped OR deliver)",
    "zq",                           # <3 cp: matches nothing
    "zq OR receipt",                # empty phrase dropped from disjunct
    '"e to" NOT "ed t"',            # punctuation/space trigrams
]


@pytest.mark.parametrize("query", TRI_QUERIES)
def test_rank_identical_to_sqlite_trigram(fts5_tri, tri_index, query):
    k = 30
    ref = fts5_tri.execute(
        "SELECT rowid, bm25(b) FROM b WHERE b MATCH ? "
        "ORDER BY bm25(b) ASC, rowid ASC LIMIT ?",
        (query, k),
    ).fetchall()
    idx, _ = tri_index
    got = idx.search_expr(query, k=k).toPandas()
    assert got["doc_id"].tolist() == [r[0] for r in ref], query
    for (_, fts_score), eng_score in zip(ref, got["score"]):
        assert abs(-fts_score - eng_score) <= 1e-9, (query, fts_score, eng_score)


def _like_re(pattern: str) -> re.Pattern:
    out = []
    for ch in pattern:
        out.append(".*" if ch == "%" else "." if ch == "_" else re.escape(ch))
    return re.compile("^" + "".join(out) + "$", re.DOTALL)


LIKE_PATTERNS = [
    "%thank you%",
    "%Thank You%",                  # case-sensitive: different result
    "%order%shipped%",              # two runs, ordered
    "%conf_rm%",                    # _ single-char wildcard
    "%unsubscribe",                 # anchored at end
    "receipt%",                     # anchored at start (no leading %)
    "%zz@qq%",                      # no match
]


@pytest.mark.parametrize("pattern", LIKE_PATTERNS)
def test_like_search_exact(tri_index, emails, pattern):
    idx, corpus = tri_index
    got = [r["doc_id"] for r in like_search(idx, corpus, pattern).collect()]
    rx = _like_re(pattern)
    want = [r.doc_id for r in emails.itertuples() if rx.match(r.content)]
    assert got == want, pattern


def test_like_case_insensitive_matches_sqlite(tri_index, emails, fts5_tri):
    """SQLite LIKE (ASCII-case-insensitive) == engine ilike on this
    ASCII corpus; exercised through the trigram candidate path."""
    idx, corpus = tri_index
    for pattern in ["%Thank You%", "%ORDER%SHIPPED%"]:
        got = [
            r["doc_id"]
            for r in like_search(idx, corpus, pattern, case_insensitive=True).collect()
        ]
        want = [
            r[0]
            for r in fts5_tri.execute(
                "SELECT rowid FROM b WHERE content LIKE ? ORDER BY rowid",
                (pattern,),
            ).fetchall()
        ]
        assert got == want, pattern


def test_like_fallback_short_runs(tri_index, emails):
    """No ≥3-cp literal run → full-scan fallback, still exact."""
    idx, corpus = tri_index
    pattern = "%a_b%"
    got = [r["doc_id"] for r in like_search(idx, corpus, pattern).collect()]
    rx = _like_re(pattern)
    want = [r.doc_id for r in emails.itertuples() if rx.match(r.content)]
    assert got == want


def test_like_candidate_scan_prunes(tri_index):
    """The LIKE candidate decode must ride the normal bucket-pruned +
    term-pushdown postings scan — at scale the operator's cost is the
    candidate runs' postings, never a postings sweep (the corpus is
    touched only by the candidate semi-join + residual filter)."""
    from sparkgrep.operators.like import like_candidates

    idx, _ = tri_index
    cand = like_candidates(idx, "%thank you%")
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "bucket" in pf, plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "term" in pushed, plan


def test_literal_runs():
    assert literal_runs("%abc%de_fgh%") == ["abc", "de", "fgh"]
    assert literal_runs("abc") == ["abc"]
    assert literal_runs("%%__%") == []


GLOB_PATTERNS = [
    "*thank you*",
    "*Thank You*",                 # case-sensitive
    "*order*shipped*",
    "*conf?rm*",                   # ? single char
    "*thank[sy ]*",                # class
    "*rece[^x]pt*",                # negated class
    "*unsubscribe",
]


@pytest.mark.parametrize("pattern", GLOB_PATTERNS)
def test_glob_search_matches_sqlite(tri_index, fts5_tri, pattern):
    """glob_search == SQLite's GLOB verbatim (the ground truth the
    trigram LIKE/GLOB optimization serves), candidates via the index."""
    from sparkgrep.operators.like import glob_search

    idx, corpus = tri_index
    got = [r["doc_id"] for r in glob_search(idx, corpus, pattern).collect()]
    want = [
        r[0]
        for r in fts5_tri.execute(
            "SELECT rowid FROM b WHERE content GLOB ? ORDER BY rowid",
            (pattern,),
        ).fetchall()
    ]
    assert got == want, pattern


HL_QUERIES = ["receipt", '"thank you"', "receipt OR unsubscribe", "order"]


@pytest.mark.parametrize("query", HL_QUERIES)
def test_highlight_trigram_parity(tri_index, fts5_tri, query):
    """highlight() on a trigram table: overlapping matched windows merge
    into the full matched substring — byte-for-byte vs SQLite."""
    from sparkgrep.operators.snippet import search_highlight

    idx, corpus = tri_index
    ref = {
        r[0]: r[1]
        for r in fts5_tri.execute(
            "SELECT rowid, highlight(b, 0, '[', ']') FROM b WHERE b MATCH ?",
            (query,),
        ).fetchall()
    }
    got = search_highlight(
        idx, corpus, query, k=30, mark_start="[", mark_end="]"
    ).collect()
    assert got, query
    for r in got:
        assert r["highlight"] == ref[r["doc_id"]], (query, r["doc_id"])


@pytest.mark.parametrize("query", HL_QUERIES[:2])
def test_snippet_trigram_parity(tri_index, fts5_tri, query):
    from sparkgrep.operators.snippet import search_snippet

    idx, corpus = tri_index
    ref = {
        r[0]: r[1]
        for r in fts5_tri.execute(
            "SELECT rowid, snippet(b, 0, '[', ']', '...', 12) "
            "FROM b WHERE b MATCH ?",
            (query,),
        ).fetchall()
    }
    got = search_snippet(
        idx, corpus, query, k=30, n_tokens=12,
        mark_start="[", mark_end="]", ellipsis="...",
    ).collect()
    assert got, query
    for r in got:
        assert r["snippet"] == ref[r["doc_id"]], (query, r["doc_id"])


def test_serve_trigram_bitwise(tri_index, spark):
    """The in-process serving tier answers trigram-grammar queries
    rank/score-identically to the distributed path."""
    from sparkgrep.operators.serve import LocalServer

    idx, _ = tri_index
    srv = LocalServer(idx)
    for q in TRI_QUERIES[:6] + ["NEAR(thank you, 5)", "^dear"]:
        dist = [(r["doc_id"], r["score"]) for r in idx.search_expr(q, 10).collect()]
        served = list(
            srv.search_expr(q, 10)[["doc_id", "score"]]
            .itertuples(index=False, name=None)
        )
        assert served == dist, q


# ---------------------------------------------------------------------------
# fts5-analyzer bareword-as-phrase fix (FTS5 semantics, probed: foo_bar
# under porter unicode61 matches ONLY adjacent "foo bar")


@pytest.fixture(scope="module")
def underscore_pair(spark, tmp_path_factory):
    from sparkgrep.operators.index_build import build_index
    from sparkgrep.sources.corpus import with_ingest_columns

    texts = [
        "foo bar adjacent here",
        "bar foo reversed order",
        "foo alone then much later bar",
        "one foo_bar literal under",   # '_' is a separator: same phrase
    ]
    db = sqlite3.connect(":memory:")
    db.execute("CREATE VIRTUAL TABLE u USING fts5(content, tokenize='porter')")
    db.executemany(
        "INSERT INTO u(rowid, content) VALUES (?,?)", list(enumerate(texts))
    )
    pdf = pd.DataFrame({
        "repo": "r", "path": [f"p/{i}" for i in range(len(texts))],
        "commit": "c0", "lang": None, "content": texts,
        "doc_id": range(len(texts)),
    })
    corpus = with_ingest_columns(spark.createDataFrame(pdf))
    out = str(tmp_path_factory.mktemp("uscore") / "idx")
    build_index(
        corpus, out, analyzer="fts5", idf_variant="fts5",
        n_buckets=4, store_positions=True,
    )
    return db, InvertedIndex(spark, out)


@pytest.mark.parametrize("query", ["foo_bar", "baz OR foo_bar", "foo_bar NOT under"])
def test_fts5_multitoken_bareword_is_phrase(underscore_pair, query):
    db, idx = underscore_pair
    ref = db.execute(
        "SELECT rowid, bm25(u) FROM u WHERE u MATCH ? "
        "ORDER BY bm25(u) ASC, rowid ASC",
        (query,),
    ).fetchall()
    got = idx.search_expr(query, k=10).toPandas()
    assert got["doc_id"].tolist() == [r[0] for r in ref], query
    for (_, fts_score), eng_score in zip(ref, got["score"]):
        assert abs(-fts_score - eng_score) <= 1e-9, (query, fts_score, eng_score)


def test_glob_like_regex_edge_parity(spark, tmp_path_factory):
    """Review r5 edges vs real SQLite: (a) texts ENDING IN '\\n' — Java's
    '$' matches before a final line terminator so the old '^..$' anchors
    accepted 'abc\\n' for GLOB 'abc' (SQLite refuses; \\A..\\z now
    exact); (b) '&&' inside a GLOB class is Java regex INTERSECTION but
    an ordinary member to SQLite; (c) case-insensitive LIKE is
    ASCII-only in SQLite — the ilike residual was full-Unicode; (d)
    SQLite LIKE has no default ESCAPE, so a case-sensitive pattern's
    '\\' is an ordinary character — Spark's like() read it as its
    default escape."""
    import sqlite3

    from sparkgrep.operators.index_build import build_index
    from sparkgrep.operators.like import glob_search, like_search
    from sparkgrep.operators.query import InvertedIndex

    texts = [
        "hello", "hello\n", "say hello\nthere", "a&b here", "b side",
        "Thank You\n", "thank you",
        "a\\", "a%", "a\\xyz", "x_y", "x\\_y", "dir\\", "Ab\\cd", "ab\\cd",
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    corpus = spark.createDataFrame(rows, "doc_id long, content string")
    out = str(tmp_path_factory.mktemp("tri_edge") / "idx")
    build_index(corpus, out, analyzer="trigram", n_buckets=4,
                store_positions=True)
    idx = InvertedIndex(spark, out)

    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t(id INTEGER PRIMARY KEY, c TEXT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)

    for pat in ["hello", "*hello", "say*", "[a&&b] here*", "[ab]*here*",
                "*you*", "*You"]:
        want = [r[0] for r in con.execute(
            "SELECT id FROM t WHERE c GLOB ? ORDER BY id", (pat,)
        )]
        got = [r["doc_id"] for r in glob_search(idx, corpus, pat).collect()]
        assert got == want, ("glob", pat)

    for pat in ["%Thank You%", "thank you", "hello"]:
        want = [r[0] for r in con.execute(
            "SELECT id FROM t WHERE c LIKE ? ORDER BY id", (pat,)
        )]
        got = [
            r["doc_id"]
            for r in like_search(
                idx, corpus, pat, case_insensitive=True
            ).collect()
        ]
        assert got == want, ("like_ci", pat)

    con.execute("PRAGMA case_sensitive_like=ON")
    for pat in ["a\\%", "%\\_%", "%\\", "%b\\cd%", "%B\\cd%", "A%", "a%"]:
        want = [r[0] for r in con.execute(
            "SELECT id FROM t WHERE c LIKE ? ORDER BY id", (pat,)
        )]
        got = [r["doc_id"] for r in like_search(idx, corpus, pat).collect()]
        assert got == want, ("like_cs", pat)
    con.close()
