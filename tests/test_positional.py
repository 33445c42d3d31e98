"""Property tests (hypothesis) for the vectorized positional kernel
(``sparkgrep.functions.positional``): the NEAR mask equals the scalar
spec ``querylang.near_supported`` group by group, and phrase starts equal
a per-group slot-shifted ``np.intersect1d`` chain — on random flat
postings over two fields and doc ids up to 2^62, grouped by dense
per-query doc ranks."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkgrep.functions.positional import group_ids, near_mask, phrase_starts
from sparkgrep.functions.querylang import near_supported

NF = 2
DOCS = st.lists(
    st.integers(min_value=0, max_value=2**62), min_size=1, max_size=4, unique=True
)
POSITIONS = st.lists(st.integers(min_value=0, max_value=24), max_size=6)


@st.composite
def flat_members(draw, min_k: int, max_k: int):
    """(doc ids, per-member {(doc, field): sorted positions})."""
    docs = draw(DOCS)
    k = draw(st.integers(min_value=min_k, max_value=max_k))
    members = []
    for _ in range(k):
        m = {}
        for d in docs:
            for f in range(NF):
                ps = sorted(set(draw(POSITIONS)))
                if ps:
                    m[(d, f)] = ps
        members.append(m)
    return docs, members


def _gid(universe: np.ndarray, d: int, f: int) -> int:
    docs = np.array([d], np.int64)
    row = np.zeros(1, np.int64)
    return int(group_ids(universe, docs, row, np.array([f]), NF)[1][0])


def _flatten(member: dict, universe: np.ndarray):
    """Flat (group, pos) of one member: per-doc ``docs`` plus one
    (row, field, pos) entry per instance, as the serving tier holds it."""
    keys = sorted(member)
    docs = np.unique(np.array([d for d, _f in keys], np.int64))
    row = np.searchsorted(docs, [d for d, f in keys for _ in member[(d, f)]])
    field = np.array([f for d, f in keys for _ in member[(d, f)]], np.int64)
    pos = np.array([p for key in keys for p in member[key]], np.int64)
    inst, g = group_ids(universe, docs, row.astype(np.int64), field, NF)
    assert inst.all()
    return g, pos


@pytest.mark.smoke
@settings(max_examples=300, deadline=None)
@given(
    flat_members(2, 4),
    st.lists(st.integers(min_value=1, max_value=3), min_size=4, max_size=4),
    st.integers(min_value=0, max_value=10),
)
def test_near_mask_equals_near_supported(data, lens4, n):
    docs, members = data
    lens = lens4[: len(members)]
    universe = np.unique(np.asarray(docs, np.int64))
    flat = [_flatten(m, universe) for m in members]
    masks = near_mask(flat, lens, n)
    for d in docs:
        for f in range(NF):
            g = _gid(universe, d, f)
            starts = [m.get((d, f), []) for m in members]
            want = near_supported(starts, lens, n)
            got = [int(mk[fg == g].sum()) for (fg, _p), mk in zip(flat, masks)]
            if want is None:
                assert not any(got), (d, f, starts, lens, n)
            else:
                assert got == want, (d, f, starts, lens, n)


@settings(max_examples=300, deadline=None)
@given(flat_members(1, 4))
def test_phrase_starts_equal_intersect1d(data):
    docs, members = data
    universe = np.unique(np.asarray(docs, np.int64))
    flat = [_flatten(m, universe) for m in members]
    g, starts = phrase_starts(flat)
    assert (np.diff(g * 2**32 + starts) > 0).all()  # sorted, distinct
    for d in docs:
        for f in range(NF):
            gid = _gid(universe, d, f)
            want = np.asarray(members[0].get((d, f), []), np.int64)
            for i, m in enumerate(members[1:], start=1):
                want = np.intersect1d(want, np.asarray(m.get((d, f), []), np.int64) - i)
            assert starts[g == gid].tolist() == want.tolist(), (d, f)


def test_keys_exact_at_int64_extremes():
    """Docs that differ only in their low 32 bits, or sit at the int64
    top, never share a group once ranked; docs outside the universe
    drop."""
    docs = np.array([(1 << 40) | 7, 2**62, 2**62 + 1, 2**63 - 1], np.int64)
    universe = docs[1:]
    row = np.arange(docs.size, dtype=np.int64)
    inst, g = group_ids(universe, docs, row, np.zeros(docs.size, np.int64), NF)
    assert inst.tolist() == [False, True, True, True]
    assert g.tolist() == [0, NF, 2 * NF]
    pos = np.zeros(g.size, np.int64)
    gs, st0 = phrase_starts([(g, pos), (g, pos + 1)])
    assert gs.tolist() == g.tolist() and (st0 == 0).all()
    gs, _ = phrase_starts([(g, pos), (g, pos + 2)])
    assert gs.size == 0
    masks = near_mask([(g, pos), (g, pos + 3)], [1, 1], 2)
    assert all(m.all() for m in masks)
    masks = near_mask([(g, pos), (g, pos + 4)], [1, 1], 2)
    assert not any(m.any() for m in masks)
