"""Property-based tests (hypothesis): varint/gap codec roundtrips and
analyzer invariants hold for arbitrary inputs — no Spark session needed."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkgrep.functions.porter import porter_stem
from sparkgrep.functions.tokenizer import tokenize_py
from sparkgrep.functions.varint import gap_decode, gap_encode, varint_decode, varint_encode


@pytest.mark.smoke
@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert varint_decode(varint_encode(arr)).tolist() == vals


@settings(max_examples=200, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=2**40), max_size=500))
def test_gap_roundtrip(ids):
    arr = np.array(sorted(ids), dtype=np.int64)
    assert gap_decode(gap_encode(arr)).tolist() == sorted(ids)


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=200))
def test_analyzers_total_and_idempotent_tokens(text):
    for analyzer in ("simple", "fts5", "code"):
        toks = tokenize_py(text, analyzer)
        assert all(isinstance(t, str) and t for t in toks)
        # re-analyzing a produced token yields itself for the
        # non-stemming analyzers (index/query agreement: query-side
        # tokenization is a fixpoint). Porter stemming is NOT idempotent
        # (porter('ubee')='ube' but porter('ube')='ub' — hypothesis
        # found 'UBeÈ') and real FTS5 shares this: agreement holds
        # because BOTH sides tokenize raw text exactly once, never
        # because stemming is a fixpoint. For fts5, assert the weaker
        # invariant that tokens re-analyze to exactly one token.
        for t in toks[:10]:
            if analyzer == "fts5":
                assert len(tokenize_py(t, analyzer)) == 1, (analyzer, t)
            else:
                assert tokenize_py(t, analyzer) == [t], (analyzer, t)


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=97, max_codepoint=122), min_size=1, max_size=30))
def test_porter_total_and_shrinking(word):
    s = porter_stem(word)
    assert s and len(s) <= len(word) + 1  # step1ab can append 'e'
    assert porter_stem(s + "s") in (s, s + "s", porter_stem(s + "s"))  # total


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=120), st.text(max_size=120))
def test_simple_concat_token_additivity(a, b):
    # splitting on a hard delimiter: tokens(a + ' ' + b) == tokens(a)+tokens(b)
    assert tokenize_py(a + " " + b, "simple") == tokenize_py(a, "simple") + tokenize_py(b, "simple")


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=500),
    st.sampled_from([1, 3, 16, 128]),
)
def test_blocked_gap_roundtrip_and_offsets(ids, block):
    from sparkgrep.functions.varint import (
        blocked_gap_decode,
        blocked_gap_encode,
        varint_byte_lengths,
        varint_decode,
    )

    arr = np.array(sorted(set(ids)), dtype=np.int64)
    buf, offs = blocked_gap_encode(arr, block)
    assert blocked_gap_decode(buf, len(arr), block).tolist() == arr.tolist()
    # offsets delimit independently-decodable blocks
    nb = (len(arr) + block - 1) // block
    assert len(offs) == nb + 1 and offs[0] == 0 and offs[-1] == len(buf)
    for i in range(nb):
        seg = varint_decode(buf[offs[i]:offs[i + 1]]).astype(np.int64)
        want = arr[i * block:(i + 1) * block]
        assert np.cumsum(seg).tolist() == want.tolist()
    # byte lengths are exact
    v = np.array([0, 1, 127, 128, 16383, 16384, 2**35, 2**63], dtype=np.uint64)
    from sparkgrep.functions.varint import varint_encode

    for x, n in zip(v, varint_byte_lengths(v)):
        assert len(varint_encode(np.array([x], dtype=np.uint64))) == n
