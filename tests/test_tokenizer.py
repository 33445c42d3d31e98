"""Tokenizer conformance — behavioral specs from the reference
(SURVEY §5.1): case-insensitivity (test_message_manager.py:706-732),
stemming (681-704), unicode (612-635), plus the north star's
camelCase/snake_case identifier splitting and lang stoplists."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparkgrep.functions.porter import porter_stem
from sparkgrep.functions.tokenizer import (
    simple_tokens_col,
    tokenize_py,
    tokenize_series,
    tokens_col,
)


@pytest.mark.smoke
def test_simple_basic():
    assert tokenize_py("Hello, World! 42", "simple") == ["hello", "world", "42"]
    assert tokenize_py("", "simple") == []
    assert tokenize_py(None, "simple") == []
    assert tokenize_py("  --  ", "simple") == []


def test_simple_case_fold():
    assert tokenize_py("URGENT Meeting", "simple") == tokenize_py("urgent meeting", "simple")


def test_fts5_stemming():
    # reference spec: run/running/runs stem together (porter)
    assert tokenize_py("running runs run", "fts5") == ["run", "run", "run"]
    assert tokenize_py("Motoring AGREED ponies", "fts5") == ["motor", "agre", "poni"]


def test_fts5_unicode():
    # unicode61: diacritics stripped, CJK kept whole, punctuation splits
    assert tokenize_py("électricité", "fts5") == ["electricit"]
    assert tokenize_py("naïve café", "fts5") == ["naiv", "cafe"]
    assert tokenize_py("東京 rocks", "fts5") == ["東京", "rock"]
    assert tokenize_py("O'Brien don't", "fts5") == ["o", "brien", "don", "t"]


def test_code_identifier_split():
    assert tokenize_py("parseJsonConfig", "code") == ["parse", "json", "config"]
    assert tokenize_py("hash_join_build_side", "code") == ["hash", "join", "build", "side"]
    assert tokenize_py("HTTPServer XMLHttpRequest", "code") == [
        "http", "server", "xml", "http", "request",
    ]
    assert tokenize_py("foo123Bar", "code") == ["foo123", "bar"]


def test_code_stoplist():
    toks = tokenize_py("def parse_config(self): return config", "code", lang="python")
    assert "def" not in toks and "return" not in toks and "self" not in toks
    assert toks.count("config") == 2
    # no lang → no stoplist
    assert "def" in tokenize_py("def foo", "code")


def test_series_matches_py():
    texts = pd.Series(["parseJson buildSide", "def foo_bar", None, "Ünïcode Test"])
    for analyzer in ("simple", "fts5", "code"):
        got = tokenize_series(texts, analyzer).tolist()
        want = [tokenize_py(t, analyzer) for t in texts]
        assert got == want


def test_spark_col_matches_py(spark):
    rows = [
        ("Hello, World! running FAST",),
        ("parseJsonConfig hash_join_build_side",),
        ("électricité 東京 naïve",),
        ("",),
    ]
    df = spark.createDataFrame(rows, "content string")
    for analyzer in ("simple", "fts5", "code"):
        got = [r[0] for r in df.select(tokens_col(F.col("content"), analyzer)).collect()]
        want = [tokenize_py(r[0], analyzer) for r in rows]
        assert got == want, analyzer


def test_simple_col_is_native(spark):
    # `simple` must not introduce any Python UDF (stays in codegen)
    df = spark.createDataFrame([("a b",)], "content string")
    plan = df.select(simple_tokens_col(F.col("content")))._jdf.queryExecution().toString()
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.smoke
def test_porter_reference_cases():
    for w, e in [("running", "run"), ("runs", "run"), ("caresses", "caress"),
                 ("relational", "relat"), ("sky", "sky"), ("東京", "東京")]:
        assert porter_stem(w) == e


def test_unknown_analyzer():
    with pytest.raises(ValueError):
        tokenize_py("x", "nope")
