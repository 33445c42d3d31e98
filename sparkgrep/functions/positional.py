"""Vectorized positional kernel: phrase starts and NEAR support over flat
sorted positional postings — one numpy pass per query unit, never one
Python step per document.

Input is flat: one ``(group, pos)`` entry per instance, sorted by
``(group, pos)``. A group is one (doc, field) — phrases and NEAR
selections never span either — numbered DENSELY per query
(:func:`group_ids`: the doc's rank in the query's doc universe times the
field count, plus the field). Dense ranks keep the composite sort key
``group << 32 | (pos + 2^31)`` exact for ANY int64 doc_id (a raw
``doc << 32`` would overflow past 2^31). Positions must lie in
[-2^31, 2^31) and a query must touch fewer than 2^31 groups.

Both kernels are exact vectorizations of the scalar specs the scoring
paths are pinned to (``querylang.near_supported`` for NEAR, the
slot-shifted ``np.intersect1d`` chain for phrases); the property tests
in tests/test_positional.py hold them equal.
"""

from __future__ import annotations

import numpy as np

_BIAS = 1 << 31
_LOW = (1 << 32) - 1


def group_ids(
    universe: np.ndarray,
    docs: np.ndarray,
    row: np.ndarray,
    field: np.ndarray,
    nf: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Dense group ids for flat instances whose doc is ``docs[row]``:
    (mask of the instances whose doc is in ``universe``, their ids
    ``rank(doc) * nf + field``). ``universe`` and ``docs`` are sorted
    unique doc ids; ranks are gathered per doc, not searched per
    instance."""
    if not universe.size:
        return np.zeros(row.size, bool), np.empty(0, np.int64)
    rk = np.minimum(np.searchsorted(universe, docs), universe.size - 1)
    inst = (universe[rk] == docs)[row]
    return inst, rk[row[inst]].astype(np.int64) * nf + field[inst]


def _keys(g: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Composite sort keys; ``pos`` saturates at the representable range,
    which only ever widens a search bound past every real position."""
    p = np.clip(np.asarray(pos, np.int64), -_BIAS, _BIAS - 1) + _BIAS
    return (np.asarray(g, np.int64) << 32) | p


def _split(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return keys >> 32, (keys & _LOW) - _BIAS


def phrase_starts(
    slots: list[tuple[np.ndarray, np.ndarray]],
) -> tuple[np.ndarray, np.ndarray]:
    """(group, start) of every phrase instance, sorted: ``start`` such
    that slot i holds an entry at ``start + i`` in the same group.
    ``slots[i]`` is slot i's sorted ``(group, pos)``. One sorted
    intersection over composite keys ``(group, pos - i)`` per slot, for
    all groups at once."""
    acc = _keys(*slots[0])
    for i, (g, pos) in enumerate(slots[1:], start=1):
        if not acc.size:
            break
        other = _keys(g, np.asarray(pos, np.int64) - i)
        if not other.size:
            acc = acc[:0]
            break
        ix = np.minimum(np.searchsorted(other, acc), other.size - 1)
        acc = acc[other[ix] == acc]
    return _split(acc)


def near_mask(
    members: list[tuple[np.ndarray, np.ndarray]], lens: list[int], n: int
) -> list[np.ndarray]:
    """Per-member boolean masks over their instances: True where the
    instance is SUPPORTED by the NEAR group — the vectorized
    ``querylang.near_supported`` over every group at once.
    ``members[m]`` is member m's sorted ``(group, start)``; an instance
    spans ``lens[m]`` tokens.

    Window-floor rule (see ``near_supported``): a floor E — an instance
    end of any member in the group — is VALID when every member j has
    an instance with end >= E and start <= n + 1 + E; one
    ``searchsorted`` per member finds j's first instance ending at or
    after E, so that test is a gather and two compares. Instance
    (s, e) is supported iff some valid floor in its group lies in
    [s - n - 1, e]: a range count over the cumulative sum of the
    valid flags. A group is satisfied iff any of its instances is
    supported (then every member has one)."""
    n = min(int(n), 1 << 33)  # any wider window already spans every position
    keyed = [(_keys(g, s), np.asarray(s, np.int64)) for g, s in members]
    ends = np.sort(
        np.concatenate(
            [_keys(g, np.asarray(s, np.int64) + (ln - 1))
             for (g, s), ln in zip(members, lens)]
        )
    )
    eg, e = _split(ends)
    valid = np.ones(ends.size, bool)
    for (k, s), ln in zip(keyed, lens):
        if not k.size:
            valid[:] = False
            break
        low = _keys(eg, e - (ln - 1))  # first instance ending >= E
        ix = np.minimum(np.searchsorted(k, low), k.size - 1)
        valid &= (k[ix] >= low) & (k[ix] >> 32 == eg) & (s[ix] <= e + (n + 1))
    csum = np.concatenate(([0], np.cumsum(valid)))
    out = []
    for (g, s), ln in zip(members, lens):
        s = np.asarray(s, np.int64)
        lo = np.searchsorted(ends, _keys(g, s - (n + 1)), "left")
        hi = np.searchsorted(ends, _keys(g, s + (ln - 1)), "right")
        out.append(csum[hi] > csum[lo])
    return out
