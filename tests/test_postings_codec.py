"""Property tests of the postings-row decoder (functions/postings.py)
against the build's own group encoders: random posting groups on both
layouts, with and without positions, round-trip through
``_encode_groups_frame`` / ``_encode_groups_frame_mc`` and
``decode_row`` — whole rows, candidate-selected blocks and tombstone
masks. No Spark session needed."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkgrep.functions.postings import candidate_blocks, decode_row
from sparkgrep.operators.index_build import (
    IndexMeta,
    _encode_groups_frame,
    _encode_groups_frame_mc,
)

SETTINGS = settings(max_examples=60, deadline=None, derandomize=True)


@st.composite
def groups(draw):
    """(meta, encoded row, ids, dls, tf matrix, per-(doc, field) position
    lists) of one random posting group. nf=1 is the single-field layout;
    on the per-field layout a doc may have tf 0 in some fields."""
    nf = draw(st.sampled_from([1, 2, 3]))
    positions = draw(st.booleans())
    block = draw(st.integers(min_value=1, max_value=4))
    ids = np.array(
        sorted(draw(st.sets(st.integers(0, 10_000), min_size=1, max_size=30))),
        dtype=np.int64,
    )
    n = ids.size
    tf = np.array(
        draw(st.lists(
            st.lists(st.integers(0, 3), min_size=nf, max_size=nf),
            min_size=n, max_size=n,
        )),
        dtype=np.int64,
    ).reshape(n, nf)
    tf[tf.sum(axis=1) == 0, draw(st.integers(0, nf - 1))] = 1  # a posting has tf ≥ 1
    dls = tf.sum(axis=1) + np.array(
        draw(st.lists(st.integers(0, 20), min_size=n, max_size=n)), dtype=np.int64
    )
    plists = {
        (i, c): np.array(sorted(draw(st.sets(
            st.integers(0, 50), min_size=int(tf[i, c]), max_size=int(tf[i, c]),
        ))), dtype=np.int64)
        for i in range(n) for c in range(nf)
    } if positions else None
    meta = IndexMeta(
        n_docs=20_000, avgdl=12.5, total_tokens=250_000, analyzer="simple",
        n_buckets=4, postings_per_shard=1 << 16, block_size=block,
        k1=1.2, b=0.75, idf_variant="lucene", has_positions=positions,
        fields=tuple(f"f{c}" for c in range(nf)) if nf > 1 else (),
        detail=("full" if positions else "column") if nf > 1 else "",
    )
    # the SPIMI frame: one row per (doc, field) with tf > 0, doc-major
    rows, cols = np.nonzero(tf) if nf > 1 else (np.arange(n), np.zeros(n, np.int64))
    frame = {
        "bucket": 0, "term": "t", "shard": 0, "df": np.nan, "cf": np.nan,
        "doc_id": ids[rows], "tf": tf[rows, cols], "dl": dls[rows],
    }
    if nf > 1:
        frame["col"] = cols
    pdf = pd.DataFrame(frame)
    if positions:
        pdf["positions"] = [plists[(i, c)] for i, c in zip(rows, cols)]
    enc = _encode_groups_frame_mc if nf > 1 else _encode_groups_frame
    out = enc(meta, pdf, [0], [len(pdf)])
    return meta, out, ids, dls, tf, plists


def _row(out: pd.DataFrame, **extra):
    return next(out.assign(**extra).itertuples())


def _flat(tf: np.ndarray, plists, keep=None):
    """Expected flat (row, field, pos) in the decoder's (field, row, pos)
    order, over the kept docs (rows renumbered)."""
    kept = np.arange(tf.shape[0]) if keep is None else np.flatnonzero(keep)
    row, field, pos = [], [], []
    for c in range(tf.shape[1]):
        for j, i in enumerate(kept):
            p = plists[(i, c)]
            row += [j] * p.size
            field += [c] * p.size
            pos += p.tolist()
    return row, field, pos


@SETTINGS
@given(groups())
def test_full_decode_returns_inputs(g):
    meta, out, ids, dls, tf, plists = g
    pos = plists is not None
    d = decode_row(_row(out), meta, fields=True, positions=pos)
    assert d.ids.tolist() == ids.tolist()
    assert d.dls.tolist() == dls.tolist()
    assert d.tf.tolist() == tf.tolist()
    if pos:
        assert (d.row.tolist(), d.field.tolist(), d.pos.tolist()) == _flat(tf, plists)
    # the total stream is one column: the writer's per-field sum
    tot = decode_row(_row(out), meta)
    assert tot.tf.tolist() == tf.sum(axis=1, keepdims=True).tolist()


@SETTINGS
@given(groups(), st.data())
def test_candidate_blocks_decode_restricts_full(g, data):
    meta, out, ids, _dls, _tf, _pl = g
    r = _row(out)
    # candidates may fall below the first block_min and past the last doc
    cand = np.array(sorted(data.draw(st.sets(
        st.integers(int(ids[0]) - 3, int(ids[-1]) + 3), min_size=1, max_size=8,
    ))), dtype=np.int64)
    blocks = candidate_blocks(r, cand)
    in_blocks = np.isin(np.arange(ids.size) // meta.block_size, blocks)
    for fields in (False, True):
        full = decode_row(r, meta, fields=fields)
        part = decode_row(r, meta, fields=fields, blocks=blocks)
        assert part.ids.tolist() == full.ids[in_blocks].tolist()
        assert part.dls.tolist() == full.dls[in_blocks].tolist()
        assert part.tf.tolist() == full.tf[in_blocks].tolist()
    # sound: every candidate that is a posting lies in a selected block
    assert set(np.intersect1d(cand, ids).tolist()) <= set(part.ids.tolist())
    if cand[-1] < ids[0]:
        assert not blocks.size


@SETTINGS
@given(groups(), st.data())
def test_tombstone_mask_drops_only_older_layers(g, data):
    meta, out, ids, dls, tf, plists = g
    pos = plists is not None
    layer = data.draw(st.integers(0, 3))
    tomb = [
        (data.draw(st.integers(0, 4)), np.array(sorted(dead), dtype=np.int64))
        for dead in data.draw(st.lists(
            st.sets(st.sampled_from(ids.tolist()), max_size=ids.size), max_size=3,
        ))
    ]
    d = decode_row(
        _row(out, layer_seq=layer), meta, fields=True, positions=pos, tomb=tomb
    )
    dead = {int(x) for cut, arr in tomb if cut > layer for x in arr}
    keep = np.array([int(i) not in dead for i in ids])
    assert d.ids.tolist() == ids[keep].tolist()
    assert d.dls.tolist() == dls[keep].tolist()
    assert d.tf.tolist() == tf[keep].tolist()
    if pos:
        assert (d.row.tolist(), d.field.tolist(), d.pos.tolist()) == _flat(
            tf, plists, keep
        )
