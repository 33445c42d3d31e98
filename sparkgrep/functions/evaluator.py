"""The query evaluator: bag-of-words BM25 and the full query language over
decoded postings, in numpy, for every driver.

The evaluator never reads an index. It is fed by a *provider*: any
object with ``meta`` (the index's ``IndexMeta``), ``nf`` (the field
count of :func:`field_count`), ``term(t)`` and ``stem(s)``, each
returning one :class:`Postings` entry — a term's postings, or the union
of every index term starting with ``s`` for ``stem*``. Two drivers feed
it:

- ``serve.LocalServer`` caches its entries across queries (a resident
  serving node);
- ``InvertedIndex`` (``operators/query.py``) fetches one query's entries
  in one bucket-pruned collect when they fit the collect budget, and
  keeps nothing (the fetch driver).

Scores are bitwise-equal to the DataFrame evaluator of
``operators/query.py`` by construction: identical per-unit
contributions, summed in the same left-associated order (sorted terms
for bag-of-words, :func:`seq_fold`; uid order for the query language),
same (score desc, doc_id asc) tie-break. Phrase starts and NEAR support
come from ONE vectorized kernel over the entries' flat positions
(``functions/positional.py``), for every document of the query at once.
A single-field index is the one-field case of the same code.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd

from sparkgrep.functions.positional import group_ids, near_mask, phrase_starts
from sparkgrep.functions.postings import decode_row
from sparkgrep.functions.querylang import star_slots
from sparkgrep.operators.score import idf as idf_fn


class Postings(NamedTuple):
    """An entry — a term's postings, a ``stem*`` union, or a unit's
    instance starts: per-doc ``docs`` (ascending, distinct) and ``dls``;
    the tf matrix ``tf`` [docs, fields] (the total-tf stream as one
    column on every layout but the per-field one; None for starts); the
    stored ``df`` (a union's matched-doc count); and on a positional
    index one (``row``, ``field``, ``pos``) entry per instance sorted by
    (row, field, pos), ``row`` indexing ``docs``. Positions are
    field-relative."""

    docs: np.ndarray
    dls: np.ndarray
    tf: np.ndarray | None
    df: int
    row: np.ndarray | None = None
    field: np.ndarray | None = None
    pos: np.ndarray | None = None


def field_count(meta) -> int:
    """Fields of the evaluator's tf matrix: the per-field layout's
    fields, otherwise one."""
    return len(meta.fields) if meta.per_field else 1


def empty_result() -> pd.DataFrame:
    """A typed, empty (rank, doc_id, score) frame."""
    return ranked(np.empty(0, np.int64), np.empty(0, np.float64))


def ranked(docs: np.ndarray, scores: np.ndarray) -> pd.DataFrame:
    """(rank, doc_id, score) for rows already in rank order."""
    return pd.DataFrame(
        {
            "rank": np.arange(1, len(docs) + 1, dtype=np.int32),
            "doc_id": np.asarray(docs, dtype=np.int64),
            "score": np.asarray(scores, dtype=np.float64),
        }
    )


def _topk(docs: np.ndarray, scores: np.ndarray, k: int) -> pd.DataFrame:
    """Top ``k`` by score desc, doc_id asc."""
    sel = np.lexsort((docs, -scores))[:k]
    return ranked(docs[sel], scores[sel])


# -- entries ------------------------------------------------------------------


def postings_columns(meta, tomb) -> list[str]:
    """The postings columns an entry decodes from."""
    cols = ["term", "df", "n", "doc_ids", "dls", "tfs_cols" if meta.per_field else "tfs"]
    if meta.has_positions:
        cols.append("poss_cols" if meta.per_field else "poss")
    if tomb:
        # the decode-time tombstone mask is cut-aware per layer
        cols.append("layer_seq")
    return cols


def decode_rows(rows, meta, tomb) -> dict[str, list[Postings]]:
    """term -> its collected shard rows, decoded (tombstone-masked)."""
    parts: dict[str, list[Postings]] = {}
    for r in rows:
        d = decode_row(r, meta, fields=True, positions=meta.has_positions, tomb=tomb)
        parts.setdefault(r.term, []).append(
            Postings(d.ids, d.dls, d.tf, int(r.df), d.row, d.field, d.pos)
        )
    return parts


def _check_distinct(term: str, ids_sorted: np.ndarray) -> None:
    """The folds add one value per (term, doc): a doc held by two shard
    rows of a term (a doc_id re-appended without deleting it first)
    would be counted twice, so it is refused loudly."""
    dup = ids_sorted[1:][ids_sorted[1:] == ids_sorted[:-1]]
    if dup.size:
        raise ValueError(
            f"term {term!r}: doc_id {int(dup[0])} is held by two postings "
            "rows — doc_ids must be distinct across batches (delete a doc "
            "before re-appending it)"
        )


def _merge(
    parts: list[Postings], nf: int, positions: bool, term: str | None = None
) -> Postings:
    """One entry over several — a term's shard rows (``term`` given:
    their docs must be distinct) or a stem's matching terms (a union:
    tfs summed per doc, positions merged)."""
    if not parts:
        e = np.empty(0, np.int64)
        pos = (e, e, e) if positions else ()
        return Postings(e, e, np.zeros((0, nf), np.int64), 0, *pos)
    if len(parts) == 1:
        docs, dls, tf, _df, row, field, pos = parts[0]
    else:
        ids = np.concatenate([p.docs for p in parts])
        docs, inv = np.unique(ids, return_inverse=True)
        if term is not None and docs.size < ids.size:
            _check_distinct(term, np.sort(ids))
        dls = np.empty(docs.size, np.int64)
        dls[inv] = np.concatenate([p.dls for p in parts])  # same on every term row
        tf = np.zeros((docs.size, nf), np.int64)
        np.add.at(tf, inv, np.concatenate([p.tf for p in parts]))  # order-free
        row = field = pos = None
        if positions:
            off = np.cumsum([0] + [p.docs.size for p in parts[:-1]])
            row = inv[np.concatenate([p.row + o for p, o in zip(parts, off)])]
            field = np.concatenate([p.field for p in parts])
            pos = np.concatenate([p.pos for p in parts])
    df = parts[0].df if term is not None else int(docs.size)
    if row is None:
        return Postings(docs, dls, tf, df)
    order = np.lexsort((pos, field, row))
    return Postings(docs, dls, tf, df, row[order], field[order], pos[order])


def merge_entries(
    parts: dict[str, list[Postings]], terms, stems: dict, meta
) -> dict:
    """Entries of one fetch: ``terms`` → each term's merged shard rows;
    ``(stem, "*")`` → the union of the stem's matching terms for every
    stem of ``stems`` (stem → its terms)."""
    nf, positions = field_count(meta), meta.has_positions
    out: dict = {}

    def entry(t):
        hit = out.get(t)
        if hit is None:
            hit = out[t] = _merge(parts.get(t, []), nf, positions, term=t)
        return hit

    for t in terms:
        entry(t)
    for s, ts in stems.items():
        out[(s, "*")] = _merge([entry(t) for t in ts if t in parts], nf, positions)
    return out


class Fetched:
    """A provider over one fetch's entries; nothing outlives the query."""

    def __init__(self, meta, entries: dict):
        self.meta = meta
        self.nf = field_count(meta)
        self.entries = entries

    def term(self, t: str) -> Postings:
        return self.entries[t]

    def stem(self, s: str) -> Postings:
        return self.entries[(s, "*")]


# -- folds --------------------------------------------------------------------


def seq_fold(
    ids: np.ndarray, tix: np.ndarray, contribs: np.ndarray, n_terms: int
) -> tuple[np.ndarray, np.ndarray]:
    """(doc_ids, scores) where score[d] = ((0.0 + c_t0) + c_t1) + ... in
    term-index order — bitwise-equal to ``score.fold_contribs``'s
    ``coalesce(_c0,0.0) + coalesce(_c1,0.0) + ...`` (x + 0.0 == x for
    the finite positive contribs, and absent terms add nothing).

    NOT ``np.add.reduceat``/``np.sum``: they may sum PAIRWISE, which
    diverges from the left-associated Spark fold by 1 ulp."""
    docs = np.unique(ids)
    pos = np.searchsorted(docs, ids)
    scores = np.zeros(len(docs), dtype=np.float64)
    for t in range(n_terms):
        m = tix == t
        # one contrib per (term, doc): these element adds are each doc's
        # next left-associated addition
        scores[pos[m]] += contribs[m]
    return docs, scores


def _bow(src, terms: list[str], k: int, dfs: dict | None = None) -> pd.DataFrame:
    """Bag-of-words top-k over sorted ``terms`` (match any, score the
    matched terms) — the DataFrame path's ``_decode_score_gen`` +
    ``fold_contribs``. ``dfs`` holds the global dfs of a LAYERED index
    (a shard row's stored df is layer-local there); otherwise the
    entry's stored df is global."""
    meta = src.meta
    k1, b, avgdl, n_docs = meta.k1, meta.b, meta.avgdl, meta.n_docs
    ids_parts, tix_parts, contrib_parts = [], [], []
    for ti, t in enumerate(terms):
        ids, dls, tf, df = src.term(t)[:4]
        if not ids.size:
            continue
        idf = idf_fn(n_docs, dfs.get(t, 0) if dfs is not None else df, meta.idf_variant)
        # the total-tf stream IS the per-field tfs' sum (the writer's
        # tf_tot = tfc.sum(axis=1)): exact ints, bitwise-equal scores
        tfs = tf.sum(axis=1)
        contrib = idf * (tfs * (k1 + 1.0)) / (
            tfs + (k1 * ((1.0 - b) + ((b * dls) / avgdl)))
        )
        ids_parts.append(ids)
        tix_parts.append(np.full(len(ids), ti, dtype=np.int32))
        contrib_parts.append(contrib)
    if not ids_parts:
        return empty_result()
    docs, scores = seq_fold(
        np.concatenate(ids_parts), np.concatenate(tix_parts),
        np.concatenate(contrib_parts), len(terms),
    )
    return _topk(docs, scores, k)


def _wfold(docs, dls, tf_mat, w: list[float], cols: list[int]):
    """Fixed-order weighted fold over the colset — bitwise mirror of
    ``InvertedIndex._wsum_mc``: tfw = (w_c0·tf_c0) + (w_c1·tf_c1) + … in
    ascending field order, elementwise IEEE float64; presence
    (weight-independent) keeps a doc when ANY colset field has an
    instance. A single-field index folds its one column with weight 1.0
    (an exact int → float conversion)."""
    pres = (tf_mat[:, cols] != 0).any(axis=1)
    v = w[cols[0]] * tf_mat[:, cols[0]].astype(np.float64)
    for c in cols[1:]:
        v = v + w[c] * tf_mat[:, c].astype(np.float64)
    if pres.all():
        return docs, v, dls
    sel = np.flatnonzero(pres)
    return docs[sel], v[sel], dls[sel]


# -- query-language units -------------------------------------------------------


def _common_docs(recs: list[Postings]) -> np.ndarray:
    """Docs holding an instance in every one of ``recs``."""
    common = recs[0].docs
    for r in recs[1:]:
        common = np.intersect1d(common, r.docs, assume_unique=True)
    return common


def _groups(nf: int, fl: Postings, universe: np.ndarray, cols=None):
    """``fl``'s instances inside the ``universe`` docs (and ``cols``
    fields) as the kernel's sorted dense (group, pos)."""
    inst, g = group_ids(universe, fl.docs, fl.row, fl.field, nf)
    if cols is None:
        return g, fl.pos[inst]
    in_cols = np.isin(fl.field[inst], cols)
    return g[in_cols], fl.pos[inst][in_cols]


def _starts(src, u) -> Postings:
    """Instance START positions of unit ``u`` per (doc, field) — term:
    its positions; prefix: the stem's union; phrase (plain or with
    starred slots, tail or internal): the kernel's slot-shifted
    intersection over every slot's flat postings — plain slots from
    their term's entry, starred slots from the stem's (numpy mirror of
    ``InvertedIndex._phrase_starts_any``). Phrases never span fields
    (positions are field-relative)."""
    if not src.meta.has_positions:
        raise ValueError(
            "phrase/NEAR/anchored queries need an index built with "
            "store_positions=True"
        )
    nf = src.nf
    slots = star_slots(u)
    recs = [
        src.stem(t) if i in slots else src.term(t) for i, t in enumerate(u.terms)
    ]
    if not u.is_phrase:
        return recs[0]
    common = _common_docs(recs)
    g, start = phrase_starts([_groups(nf, r, common) for r in recs])
    ranks, row = np.unique(g // nf, return_inverse=True)
    docs = common[ranks]
    dls = recs[0].dls[np.searchsorted(recs[0].docs, docs)]
    return Postings(docs, dls, None, 0, row, g % nf, start)


def _unit_tf(src, u) -> tuple:
    """(docs asc, dls, tf matrix per field) for one unit — the mirror of
    ``InvertedIndex._unit_percol``: phrase tf = instance count; anchored
    units (FTS5 '^') count one instance per field whose position 0
    starts one; prefixes sum the stem's tfs; terms come straight off
    their entry."""
    nf = src.nf
    if u.anchored or u.is_phrase:
        fl = _starts(src, u)
        sel = fl.pos == 0 if u.anchored else slice(None)
        tf = np.bincount(
            fl.row[sel] * nf + fl.field[sel], minlength=fl.docs.size * nf
        ).reshape(-1, nf)
        has = tf.any(axis=1)
        return fl.docs[has], fl.dls[has], tf[has]
    t = u.terms[0]
    return (src.stem(t) if star_slots(u) else src.term(t))[:3]


def _near_tf(src, grp, cols: list[int]) -> tuple:
    """(docs, dls, [tf matrix per member]) for a NEAR group's
    CONSTRAINED member atoms (mirror of ``InvertedIndex._near_eval``):
    docs with a satisfied (doc, field) in ``cols``, and per member per
    field the count of its SUPPORTED instances
    (``querylang.near_supported``'s rule) — 0 in fields where the group
    is unsatisfied, since a selection never spans fields. One kernel
    call for every doc."""
    nf = src.nf
    recs = [_starts(src, u) for u in grp.phrases]
    common = _common_docs(recs)
    sub = None if len(cols) == nf else cols
    members = [_groups(nf, r, common, sub) for r in recs]
    masks = near_mask(members, [len(u.terms) for u in grp.phrases], grp.n)
    size = common.size * nf
    tfs = [
        np.bincount(g[m], minlength=size).reshape(-1, nf)
        for (g, _pos), m in zip(members, masks)
    ]
    sat = tfs[0].any(axis=1)  # every member is supported where any is
    docs = common[sat]
    dls = recs[0].dls[np.searchsorted(recs[0].docs, docs)]
    return docs, dls, [tf[sat] for tf in tfs]


def _search_parsed(src, pq, units, k: int, w: list[float], nf: int) -> pd.DataFrame:
    """Query-language top-k over ``pq`` and its ``units``
    (``pq.units()``, which the caller has already walked for the terms
    to fetch): the same colset-filtered, weight-folded per-unit
    relations as the DataFrame ``InvertedIndex._unit_tf`` over ``nf``
    fields weighted by ``w`` (``InvertedIndex._expr_weights``: a
    single-field or detail=none index is one field of weight 1.0), then
    the shared gated fold."""
    all_cols = list(range(nf))
    # per-unit postings; unit df = matched-doc count (== stored df for
    # terms); drop no-match units like the DataFrame path
    per_unit: dict[str, tuple] = {}
    df_of: dict[str, int] = {}  # uid → df used for idf (NEAR overrides)
    for u in units:
        cols = sorted(u.cols) if u.cols is not None else all_cols
        if not cols:
            continue  # empty colset intersection: matches nothing
        ids, tfw, dls = _wfold(*_unit_tf(src, u), w, cols)
        if ids.size:
            per_unit[u.uid] = (ids, tfw, dls)

    # NEAR groups (including those inside exclude expressions):
    # CONSTRAINED member atoms — rows only for satisfying docs, tf =
    # supported instances, df = the member's full presence
    near_groups = pq.near_groups()
    near_uids: dict[int, list[str]] = {}
    for gid, grp in enumerate(near_groups):
        uids_g = [f"n{gid}:{u.uid}" for u in grp.phrases]
        near_uids[gid] = uids_g
        cols_g = sorted(grp.cols) if grp.cols is not None else all_cols
        if not cols_g:
            continue
        docs, dls, tfs = _near_tf(src, grp, cols_g)
        for u, nuid, tf in zip(grp.phrases, uids_g, tfs):
            ids, tfw, dl = _wfold(docs, dls, tf, w, cols_g)
            if ids.size:
                per_unit[nuid] = (ids, tfw, dl)
                # member df = colset-restricted full presence (the
                # member's standalone relation — parser set its cols)
                if u.uid in per_unit:
                    df_of[nuid] = int(per_unit[u.uid][0].size)
    return _gated_topk(src.meta, pq, per_unit, df_of, near_groups, near_uids, k)


def _gated_topk(
    meta, pq, per_unit: dict, df_of: dict, near_groups, near_uids, k: int
) -> pd.DataFrame:
    """Boolean match + gated fold + top-k over the per-unit postings
    (mirror of ``InvertedIndex._rank_units``)."""
    if not per_unit:
        return empty_result()
    order = sorted(per_unit)
    docs = np.unique(np.concatenate([per_unit[uid][0] for uid in order]))

    # boolean masks over `docs` — mirror of the DataFrame conj_cond /
    # expr_cond recursion (exclude EXPRESSIONS subtract their exact
    # match set)
    present = {uid: np.isin(docs, per_unit[uid][0]) for uid in order}

    def conj_mask(conj):
        m = None
        for u in conj.includes:
            if u.uid not in per_unit:
                return None
            mm = present[u.uid]
            m = mm.copy() if m is None else (m & mm)
        for grp in conj.nears:
            nuid = near_uids[near_groups.index(grp)][0]
            if nuid not in per_unit:
                return None
            mm = present[nuid]
            m = mm.copy() if m is None else (m & mm)
        if m is None:
            return None  # bare-NOT conjunct matches nothing
        for u in conj.excludes:
            if u.uid in per_unit:
                m &= ~present[u.uid]
        for e in conj.exclude_exprs:
            em = expr_mask(e)
            if em is not None:
                m &= ~em
        return m

    def expr_mask(conjs):
        m = None
        for conj in conjs:
            mm = conj_mask(conj)
            if mm is not None:
                m = mm if m is None else (m | mm)
        return m

    match = expr_mask(pq.disjuncts)
    if match is None:
        return empty_result()

    # FTS5 scoring gate (same rule as the DataFrame path): an atom
    # contributes only where a disjunct scoring it matches
    scoring_uids = []
    for conj in pq.disjuncts:
        s = {u.uid for u in conj.includes}
        for grp in conj.nears:
            s.update(near_uids[near_groups.index(grp)])
        scoring_uids.append(s)
    gates = {}
    for uid in order:
        gate = None
        for conj, s in zip(pq.disjuncts, scoring_uids):
            if uid in s:
                cm = conj_mask(conj)
                if cm is not None:
                    gate = cm if gate is None else (gate | cm)
        gates[uid] = gate

    # gated fold — contributions per (unit, doc) in uid order, identical
    # float-op order to the DataFrame gated sum (adding a gated-out
    # contribution of 0.0 is a bitwise identity)
    k1, b, avgdl, n_docs = meta.k1, meta.b, meta.avgdl, meta.n_docs
    scores = np.zeros(docs.size, dtype=np.float64)
    for uid in order:
        gate = gates[uid]
        if gate is None:
            continue
        ids, tfs, dls = per_unit[uid]
        idf = float(idf_fn(n_docs, df_of.get(uid, int(ids.size)), meta.idf_variant))
        tf = tfs.astype(np.float64)
        dl = dls.astype(np.float64)
        contrib = idf * (tf * (k1 + 1.0)) / (
            tf + (k1 * ((1.0 - b) + ((b * dl) / avgdl)))
        )
        p = np.searchsorted(docs, ids)
        sel = gate[p]
        scores[p[sel]] += contrib[sel]

    return _topk(docs[match], scores[match], k)
