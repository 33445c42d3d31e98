"""Read side of the postings-row format: one decoder for every reader.

The build writes one row per (term, shard) (``index_build.postings_schema``):

- ``doc_ids`` — ascending doc ids, gap-encoded with the gap reset at
  every ``block_size`` block (each block decodes on its own);
- ``dls`` — each doc's length; ``tfs`` — each doc's total tf;
- per-field layout only (:attr:`IndexMeta.per_field`): ``tfs_cols[c]``,
  the doc's tf within field c, zeros included, so every stream holds
  ``n`` values;
- with positions: ``poss`` (single-field layout) or ``poss_cols[c]``
  (per-field, field-relative), per-doc position lists delta-encoded and
  concatenated in doc order, segment lengths = the matching tf stream;
- ``block_min`` / ``offs_ids`` / ``offs_tfs`` / ``offs_dls`` /
  ``offs_tfs_cols`` — each block's first doc id and byte offsets, so a
  reader can decode only the blocks it needs.

:func:`decode_row` turns one such row into ``(ids, dls, tf matrix [n,
nf])`` plus, on request, flat ``(row, field, pos)`` positions, with the
tombstone mask applied. The query kernels, the wand pass 2, the
resident server, the vocab views and purge all read through it.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from sparkgrep.functions.varint import delta_decode_segments, varint_decode


class DecodedRow(NamedTuple):
    """One decoded postings row. ``tf[i, c]`` is doc ``ids[i]``'s tf in
    field c (one column for the total stream). With positions, each
    instance is one (``row``, ``field``, ``pos``) entry, ``row``
    indexing ``ids``, ordered by (field, row, pos); otherwise the three
    are None."""

    ids: np.ndarray
    dls: np.ndarray
    tf: np.ndarray
    row: np.ndarray | None = None
    field: np.ndarray | None = None
    pos: np.ndarray | None = None


def _tomb_keep(ids: np.ndarray, layer_seq: int, tomb) -> np.ndarray | None:
    """Decode-time tombstone mask: keep[i] is False when doc ids[i] was
    deleted by a tombstone NEWER than this row's layer (``cut >
    layer_seq``) — older layers only, so a doc_id re-appended after its
    delete (an UPDATE) survives in its new layer. ``tomb`` is
    [(cut, ids)] where ids is a sorted int64 array or a Broadcast of
    one. None = nothing to mask for this layer."""
    keep = None
    for cut, dead in tomb:
        if cut <= layer_seq:
            continue
        arr = dead.value if hasattr(dead, "value") else dead
        m = ~np.isin(ids, arr, assume_unique=False)
        keep = m if keep is None else (keep & m)
    return keep


def _take_blocks(buf, offs, blocks: np.ndarray) -> np.ndarray:
    """The bytes of ``blocks`` of a block-addressable stream, joined in
    block order: one gather, no per-block loop."""
    o = np.asarray(offs, dtype=np.int64)
    s = o[blocks]
    lens = o[blocks + 1] - s
    idx = np.repeat(s - (np.cumsum(lens) - lens), lens) + np.arange(int(lens.sum()))
    return np.frombuffer(buf, dtype=np.uint8)[idx]


def candidate_blocks(r, candidates: np.ndarray) -> np.ndarray:
    """Sorted indexes of the blocks of row ``r`` that may hold any of the
    sorted ``candidates``: blocks partition the doc space, block i
    covering [block_min[i], block_min[i+1]); candidates below the first
    block touch none."""
    bi = np.searchsorted(np.asarray(r.block_min, dtype=np.int64), candidates, side="right") - 1
    return np.unique(bi[bi >= 0])


def row_ids(r, meta, blocks: np.ndarray | None = None) -> np.ndarray:
    """Doc ids of row ``r`` (all blocks, or ``blocks``) — the ids-only
    entry point: no tf or position stream is touched."""
    n, block = int(r.n), meta.block_size
    if n == 0:
        return np.empty(0, dtype=np.int64)
    nb = (n + block - 1) // block
    counts = np.full(nb, block, dtype=np.int64)
    counts[-1] = n - block * (nb - 1)
    if blocks is None:
        return delta_decode_segments(r.doc_ids, counts)
    return delta_decode_segments(_take_blocks(r.doc_ids, r.offs_ids, blocks), counts[blocks])


def decode_row(
    r,
    meta,
    fields: bool = False,
    positions: bool = False,
    blocks: np.ndarray | None = None,
    tomb=None,
) -> DecodedRow:
    """Decode postings row ``r`` (any object with the row's columns as
    attributes: a pandas itertuples row or a collected Spark Row).

    ``fields`` reads the per-field ``tfs_cols`` streams on the per-field
    layout (one tf column per field); otherwise — and on every other
    layout — the total ``tfs`` stream is the one column. ``positions``
    adds the flat positions of those streams (whole rows only).
    ``blocks`` decodes only those blocks, through the ``offs_*`` byte
    offsets. ``tomb`` (see :func:`_tomb_keep`) drops tombstoned docs,
    cut-aware by the row's ``layer_seq``."""
    per_field = fields and meta.per_field
    ids = row_ids(r, meta, blocks)
    dls, streams = r.dls, (r.tfs_cols if per_field else [r.tfs])
    if blocks is not None:
        dls = _take_blocks(dls, r.offs_dls, blocks)
        offs = r.offs_tfs_cols if per_field else [r.offs_tfs]
        streams = [_take_blocks(s, o, blocks) for s, o in zip(streams, offs)]
    dls = varint_decode(dls).astype(np.int64)
    tf = np.stack([varint_decode(s).astype(np.int64) for s in streams], axis=1)
    row = field = pos = None
    if positions:
        if blocks is not None:
            raise ValueError("positions decode whole postings rows only")
        pstreams = r.poss_cols if per_field else [r.poss]
        pos = np.concatenate(
            [delta_decode_segments(pb, tf[:, c]) for c, pb in enumerate(pstreams)]
        )
        nf = tf.shape[1]
        field = np.repeat(np.arange(nf, dtype=np.int64), tf.sum(axis=0))
        at = np.arange(ids.size, dtype=np.int64)
        row = np.concatenate([np.repeat(at, tf[:, c]) for c in range(nf)])
    keep = _tomb_keep(ids, getattr(r, "layer_seq", 0), tomb) if tomb else None
    if keep is not None:
        if positions:
            inst = keep[row]
            row = (np.cumsum(keep) - 1)[row[inst]]
            field, pos = field[inst], pos[inst]
        ids, dls, tf = ids[keep], dls[keep], tf[keep]
    return DecodedRow(ids, dls, tf, row, field, pos)
