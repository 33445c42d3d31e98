"""Low-latency serving tier: resident postings, no Spark job per query.

The distributed query path (`operators/query.py`) pays one Spark job per
search (~0.8-1 s of scheduling in local mode) — the right trade at
10^12 docs where a query must fan out across executors, but wrong for an
interactive serving tier. The reference answers in ~ms because SQLite
holds the whole index in one process (`message_manager.py:225-264`,
BASELINE.md ~50 ms DB ops).

:class:`LocalServer` is the engine's analogue of a serving NODE: it
pulls the postings rows for a query's terms out of the index ONCE
(bucket-pruned Spark fetch on first touch, cached thereafter) and scores
in numpy. On a cluster this is exactly what a serving shard does — hold
its resident term partitions in memory, answer from them. Results are
rank- and score-identical to ``InvertedIndex.search`` by construction:
identical per-term contributions, summed in the same sorted-term
left-associated order (``wand.seq_fold``, one strictly sequential add
per term — NOT reduceat/np.sum, whose pairwise summation diverges from
the Spark fold by 1 ulp), same (score desc, doc_id asc) tie-break.

One resident cache, one entry per term or ``stem*`` (:class:`Postings`),
decoded once through the postings decoder (``functions/postings.py``):
docs ascending, dls, the per-field tf matrix (the total-tf stream as one
column on every other layout), the stored df and — exactly when the
index stores positions — one flat (doc row, field, position) entry per
instance, sorted. A ``stem*`` entry is the union of its matching terms
(tfs summed, positions merged). Bag-of-words ``search`` scores the
matrix's row sums (the writer's own definition of the total stream),
the query language folds its columns under the field weights, and
phrase starts and NEAR support come from ONE vectorized kernel over the
flat positions (``functions/positional.py``), for every document of the
query at once. A single-field index is the one-field case of the same
code.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from sparkgrep.functions.positional import group_ids, near_mask, phrase_starts
from sparkgrep.functions.querylang import (
    Conjunct,
    ParsedQuery,
    Unit,
    parse_query,
    plain_terms,
    star_slots,
    stem_terms,
)
from sparkgrep.functions.postings import decode_row
from sparkgrep.functions.tokenizer import tokenize_py
from sparkgrep.operators.query import InvertedIndex
from sparkgrep.operators.score import idf as idf_fn

_EMPTY = pd.DataFrame(
    {
        "rank": pd.Series(dtype="int32"),
        "doc_id": pd.Series(dtype="int64"),
        "score": pd.Series(dtype="float64"),
    }
)


class Postings(NamedTuple):
    """A resident entry — a term's postings, a ``stem*`` union, or a
    unit's instance starts: per-doc ``docs`` (ascending, distinct) and
    ``dls``; the tf matrix ``tf`` [docs, fields] (None for starts); the
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


def _common_docs(recs: list[Postings]) -> np.ndarray:
    """Docs holding an instance in every one of ``recs``."""
    common = recs[0].docs
    for r in recs[1:]:
        common = np.intersect1d(common, r.docs, assume_unique=True)
    return common


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


class LocalServer:
    """Driver-resident serving handle over a built index.

    ``max_resident_df`` bounds what this node will ever pull resident: a
    query touching any term whose document frequency exceeds the cap
    (a stop word over a 10^12-doc corpus would otherwise collect ~N
    postings onto the serving node) is answered by delegating to the
    DISTRIBUTED exact path — results are bitwise-identical by the
    serve/distributed equivalence pinned in tests, only the latency
    profile changes. A real deployment shards residency across serving
    nodes (each node holds its term partitions, like the distributed
    tier's bucket layout) and sizes the cap to the node's memory; the
    default None keeps everything resident (sandbox scale)."""

    def __init__(self, index: InvertedIndex, max_resident_df: int | None = None):
        self.index = index
        self.meta = index.meta
        self.max_resident_df = max_resident_df
        # per-field layout (multi-field, detail != none): tf and position
        # streams are stored per field; otherwise one field
        self._mc = self.meta.per_field
        self._nf = len(self.meta.fields) if self._mc else 1
        # the one resident cache: term -> Postings, (stem, "*") -> the
        # stem's union; a term without postings holds an empty entry
        self._cache: dict = {}

    # -- fetch ----------------------------------------------------------------

    def _columns(self) -> list[str]:
        """The postings columns an entry decodes from."""
        meta = self.meta
        cols = ["term", "df", "n", "doc_ids", "dls", "tfs_cols" if self._mc else "tfs"]
        if meta.has_positions:
            cols.append("poss_cols" if self._mc else "poss")
        if self.index._tomb_spec:
            # the decode-time tombstone mask is cut-aware per layer
            cols.append("layer_seq")
        return cols

    def _decode(self, rows) -> dict[str, list[Postings]]:
        """term -> its collected shard rows, decoded (tombstone-masked)."""
        parts: dict[str, list[Postings]] = {}
        for r in rows:
            d = decode_row(
                r, self.meta, fields=True, positions=self.meta.has_positions,
                tomb=self.index._tomb_spec,
            )
            parts.setdefault(r.term, []).append(
                Postings(d.ids, d.dls, d.tf, int(r.df), d.row, d.field, d.pos)
            )
        return parts

    def _merge(self, parts: list[Postings], term: str | None = None) -> Postings:
        """One entry over several — a term's shard rows (``term`` given:
        their docs must be distinct) or a stem's matching terms (a union:
        tfs summed per doc, positions merged)."""
        if not parts:
            e = np.empty(0, np.int64)
            pos = (e, e, e) if self.meta.has_positions else ()
            return Postings(e, e, np.zeros((0, self._nf), np.int64), 0, *pos)
        if len(parts) == 1:
            docs, dls, tf, _df, row, field, pos = parts[0]
        else:
            ids = np.concatenate([p.docs for p in parts])
            docs, inv = np.unique(ids, return_inverse=True)
            if term is not None and docs.size < ids.size:
                _check_distinct(term, np.sort(ids))
            dls = np.empty(docs.size, np.int64)
            dls[inv] = np.concatenate([p.dls for p in parts])  # same on every term row
            tf = np.zeros((docs.size, self._nf), np.int64)
            np.add.at(tf, inv, np.concatenate([p.tf for p in parts]))  # order-free
            row = field = pos = None
            if self.meta.has_positions:
                off = np.cumsum([0] + [p.docs.size for p in parts[:-1]])
                row = inv[np.concatenate([p.row + o for p, o in zip(parts, off)])]
                field = np.concatenate([p.field for p in parts])
                pos = np.concatenate([p.pos for p in parts])
        df = parts[0].df if term is not None else int(docs.size)
        if row is None:
            return Postings(docs, dls, tf, df)
        order = np.lexsort((pos, field, row))
        return Postings(docs, dls, tf, df, row[order], field[order], pos[order])

    def _fetch(self, terms: list[str]) -> None:
        """Entries for ``terms``: one Spark job for every missing term."""
        missing = [t for t in terms if t not in self._cache]
        if not missing:
            return
        rows = self.index._matched(missing).select(*self._columns()).collect()
        got = self._decode(rows)
        for t in missing:
            self._cache[t] = self._merge(got.get(t, []), term=t)

    def _term(self, t: str) -> Postings:
        self._fetch([t])
        return self._cache[t]

    def _fetch_stem(self, stem: str) -> Postings:
        """``stem*`` entry: the union of every index term starting with
        the stem. The stem resolves through the term dictionary into a
        bucket-pruned scan (InvertedIndex._prefix_matched); one Spark job,
        cached per stem."""
        key = (stem, "*")
        hit = self._cache.get(key)
        if hit is None:
            rows = self.index._prefix_matched(stem).select(*self._columns()).collect()
            hit = self._cache[key] = self._merge(
                [self._merge(ps, term=t) for t, ps in self._decode(rows).items()]
            )
        return hit

    def warm(self, queries: list[str]) -> "LocalServer":
        """Prefetch the entries a query workload reads: ONE Spark job for
        every term — bag-of-words tokens and the query language's plain
        terms, phrase slots and NEAR members included — plus one per
        ``stem*``. A query that :meth:`_over_residency_cap` would
        delegate is skipped: the cap bounds what warming pulls resident
        too."""
        meta = self.meta
        terms: set[str] = set()
        stems: set[str] = set()
        for q in queries:
            # plain search() is bag-of-words: tokens the query-language
            # parser would consume as operators (OR/NOT/...) still score
            # there — warm them too so neither entry point misses
            q_terms = set(tokenize_py(q, meta.analyzer))
            units = parse_query(q, meta.analyzer, fields=meta.fields or None).units()
            q_terms.update(t for u in units for t in plain_terms(u))
            q_stems = {s for u in units for s in stem_terms(u)}
            if self._over_residency_cap(sorted(q_terms), sorted(q_stems)):
                continue
            terms |= q_terms
            stems |= q_stems
        self._fetch(sorted(terms))
        for s in sorted(stems):
            self._fetch_stem(s)
        return self

    def _over_residency_cap(self, terms: list[str], stems: list[str] = ()) -> bool:
        """True when any query term (or any term a prefix stem resolves
        to) exceeds ``max_resident_df`` — route to the distributed path
        instead of collecting an oversized posting list resident."""
        if self.max_resident_df is None:
            return False
        ubs = self.index.term_ubs(list(terms))
        if any(df > self.max_resident_df for df, _ub in ubs.values()):
            return True
        for stem in stems:
            mts = self.index.prefix_terms(stem)
            if mts is None:
                return True  # unresolvable stem: unbounded fetch
            subs = self.index.term_ubs(mts)
            if sum(df for df, _ub in subs.values()) > self.max_resident_df:
                return True
        return False

    def search(self, query_text: str, k: int = 10) -> pd.DataFrame:
        """(rank, doc_id, score) — numpy only after the postings are
        resident; bitwise-equal to ``InvertedIndex.search``. Queries
        touching terms over ``max_resident_df`` delegate to the
        distributed exact path (identical results, tested)."""
        meta = self.meta
        if meta.rank_weights:
            # persisted rank configuration (set_rank): mirror the
            # distributed OR mode's DNF exactly (query.py search():
            # one single-unit disjunct per term — identical match-any
            # semantics) through the RESIDENT weighted fold, so a
            # rank-configured index serves plain queries at the same ms
            # latency as everything else. Bitwise-equal to
            # ``InvertedIndex.search`` by the _search_parsed ≡
            # InvertedIndex._search_parsed equivalence pinned in tests;
            # queries over the residency cap still delegate inside it.
            terms = sorted(set(tokenize_py(query_text, meta.analyzer)))
            if not terms:
                return _EMPTY.copy()
            pq = ParsedQuery(tuple(Conjunct((Unit((t,)),)) for t in terms))
            return self._search_parsed(pq, k, list(meta.rank_weights))
        terms = sorted(set(tokenize_py(query_text, meta.analyzer)))
        empty = _EMPTY.copy()
        if not terms:
            return empty
        if self._over_residency_cap(terms):
            return self.index.search(query_text, k).toPandas()
        self._fetch(terms)
        k1, b, avgdl, n_docs = meta.k1, meta.b, meta.avgdl, meta.n_docs
        # LAYERED index: a shard row's stored df is layer-local — use the
        # summed global dfs from the layered term_ubs sidecars instead
        layered_dfs = (
            {t: df for t, (df, _ub) in self.index.term_ubs(terms).items()}
            if getattr(self.index, "is_layered", False)
            else None
        )
        ids_parts, tix_parts, contrib_parts = [], [], []
        for ti, t in enumerate(terms):
            ids, dls, tf, df = self._cache[t][:4]
            if not ids.size:
                continue
            # single layer: df in the payload is the GLOBAL document
            # frequency (same on every shard row) — no aggregation needed
            df_g = layered_dfs.get(t, 0) if layered_dfs is not None else df
            idf = idf_fn(n_docs, df_g, meta.idf_variant)
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
            return empty
        from sparkgrep.operators.wand import seq_fold

        ids = np.concatenate(ids_parts)
        tix = np.concatenate(tix_parts)
        contribs = np.concatenate(contrib_parts)
        # strictly sequential per-doc adds in term order — identical
        # float addition order to the distributed fold (1-ulp-exact)
        docs, scores = seq_fold(ids, tix, contribs, len(terms))
        # top-k: score desc, doc_id asc
        sel = np.lexsort((docs, -scores))[:k]
        out = pd.DataFrame(
            {
                "rank": np.arange(1, len(sel) + 1, dtype=np.int32),
                "doc_id": docs[sel],
                "score": scores[sel],
            }
        )
        return out

    # -- boolean / phrase query language ------------------------------------

    def _groups(self, fl: Postings, universe: np.ndarray, cols=None):
        """``fl``'s instances inside the ``universe`` docs (and ``cols``
        fields) as the kernel's sorted dense (group, pos)."""
        inst, g = group_ids(universe, fl.docs, fl.row, fl.field, self._nf)
        if cols is None:
            return g, fl.pos[inst]
        in_cols = np.isin(fl.field[inst], cols)
        return g[in_cols], fl.pos[inst][in_cols]

    def _starts(self, u) -> Postings:
        """Instance START positions of unit ``u`` per (doc, field) —
        term: its positions; prefix: the stem's union; phrase (plain or
        with starred slots, tail or internal): the kernel's slot-shifted
        intersection over every slot's flat postings — plain slots from
        their term's entry, starred slots from the stem's (numpy mirror of
        ``InvertedIndex._phrase_starts_any``). Phrases never span fields
        (positions are field-relative)."""
        if not self.meta.has_positions:
            raise ValueError(
                "phrase/NEAR/anchored queries need an index built with "
                "store_positions=True"
            )
        slots = star_slots(u)
        recs = [
            self._fetch_stem(t) if i in slots else self._term(t)
            for i, t in enumerate(u.terms)
        ]
        if not u.is_phrase:
            return recs[0]
        common = _common_docs(recs)
        g, start = phrase_starts([self._groups(r, common) for r in recs])
        ranks, row = np.unique(g // self._nf, return_inverse=True)
        docs = common[ranks]
        dls = recs[0].dls[np.searchsorted(recs[0].docs, docs)]
        return Postings(docs, dls, None, 0, row, g % self._nf, start)

    def _unit_tf(self, u) -> tuple:
        """(docs asc, dls, tf matrix per field) for one unit — the
        serving mirror of ``InvertedIndex._unit_percol``:
        phrase tf = instance count; anchored units (FTS5 '^') count one
        instance per field whose position 0 starts one; prefixes sum
        the stem's tfs; terms come straight off their entry."""
        nf = self._nf
        if u.anchored or u.is_phrase:
            fl = self._starts(u)
            sel = fl.pos == 0 if u.anchored else slice(None)
            tf = np.bincount(
                fl.row[sel] * nf + fl.field[sel], minlength=fl.docs.size * nf
            ).reshape(-1, nf)
            has = tf.any(axis=1)
            return fl.docs[has], fl.dls[has], tf[has]
        t = u.terms[0]
        return (self._fetch_stem(t) if star_slots(u) else self._term(t))[:3]

    def _near_tf(self, grp, cols: list[int]) -> tuple:
        """(docs, dls, [tf matrix per member]) for a NEAR group's
        CONSTRAINED member atoms (numpy mirror of
        ``InvertedIndex._near_eval``): docs with a
        satisfied (doc, field) in ``cols``, and per member per field the
        count of its SUPPORTED instances (``querylang.near_supported``'s
        rule) — 0 in fields where the group is unsatisfied, since a
        selection never spans fields. One kernel call for every doc."""
        recs = [self._starts(u) for u in grp.phrases]
        common = _common_docs(recs)
        sub = None if len(cols) == self._nf else cols
        members = [self._groups(r, common, sub) for r in recs]
        masks = near_mask(members, [len(u.terms) for u in grp.phrases], grp.n)
        size = common.size * self._nf
        tfs = [
            np.bincount(g[m], minlength=size).reshape(-1, self._nf)
            for (g, _pos), m in zip(members, masks)
        ]
        sat = tfs[0].any(axis=1)  # every member is supported where any is
        docs = common[sat]
        dls = recs[0].dls[np.searchsorted(recs[0].docs, docs)]
        return docs, dls, [tf[sat] for tf in tfs]

    def search_expr(
        self, query_text: str, k: int = 10, strict: bool = False, weights=None
    ) -> pd.DataFrame:
        """Full query language (implicit/explicit AND, OR, NOT, quoted
        phrases; on multi-field indexes also FTS5 column filters and
        per-column bm25 weights) on the serving tier — rank- and
        score-identical to ``InvertedIndex.search_expr`` (same unit
        tf/df, same driver-side idf, same uid-sorted left-associated
        fold, same tie-break), at in-process latency."""
        meta = self.meta
        if weights is None and meta.rank_weights:
            # FTS5 'rank' configuration (set_rank): persisted default
            # weights; explicit weights override (rank MATCH — probed)
            weights = list(meta.rank_weights)
        pq = parse_query(query_text, meta.analyzer, fields=meta.fields or None)
        if not pq.disjuncts:
            if strict:
                raise ValueError("empty query (FTS5 parity: empty MATCH is an error)")
            return _EMPTY.copy()
        return self._search_parsed(pq, k, weights)

    def _search_parsed(self, pq, k: int, weights) -> pd.DataFrame:
        """Expr serving: builds the same colset-filtered, weight-folded
        per-unit relations as the distributed ``InvertedIndex._unit_tf``
        under the same gates and field layout
        (``InvertedIndex._expr_weights``: a single-field or detail=none
        index is one field of weight 1.0), then the shared gated fold —
        rank- and score-identical to ``InvertedIndex.search_expr``
        (pinned in tests/test_multicol_parity.py,
        tests/test_fts5_parity.py and tests/test_expr_equivalence.py)."""
        w, nf = self.index._expr_weights(pq, weights)
        all_cols = list(range(nf))
        units = pq.units()
        near_groups = pq.near_groups()
        terms = sorted({t for u in units for t in plain_terms(u)})
        if self._over_residency_cap(
            terms, sorted({s for u in units for s in stem_terms(u)})
        ):
            return self.index._search_parsed(pq, k, weights).toPandas()
        # one job for every plain term (NEAR members are units too);
        # stems are fetched per stem on first use
        self._fetch(terms)

        # per-unit postings; unit df = matched-doc count (== stored df
        # for terms); drop no-match units like the distributed path
        per_unit: dict[str, tuple] = {}
        df_of: dict[str, int] = {}  # uid → df used for idf (NEAR overrides)
        for u in units:
            cols = sorted(u.cols) if u.cols is not None else all_cols
            if not cols:
                continue  # empty colset intersection: matches nothing
            ids, tfw, dls = _wfold(*self._unit_tf(u), w, cols)
            if ids.size:
                per_unit[u.uid] = (ids, tfw, dls)

        # NEAR groups (including those inside exclude expressions):
        # CONSTRAINED member atoms — rows only for satisfying docs, tf =
        # supported instances, df = the member's full presence
        near_uids: dict[int, list[str]] = {}
        for gid, grp in enumerate(near_groups):
            uids_g = [f"n{gid}:{u.uid}" for u in grp.phrases]
            near_uids[gid] = uids_g
            cols_g = sorted(grp.cols) if grp.cols is not None else all_cols
            if not cols_g:
                continue
            docs, dls, tfs = self._near_tf(grp, cols_g)
            for u, nuid, tf in zip(grp.phrases, uids_g, tfs):
                ids, tfw, dl = _wfold(docs, dls, tf, w, cols_g)
                if ids.size:
                    per_unit[nuid] = (ids, tfw, dl)
                    # member df = colset-restricted full presence (the
                    # member's standalone relation — parser set its cols)
                    if u.uid in per_unit:
                        df_of[nuid] = int(per_unit[u.uid][0].size)
        return self._gated_topk(pq, per_unit, df_of, near_groups, near_uids, k)

    def _gated_topk(
        self, pq, per_unit: dict, df_of: dict, near_groups, near_uids, k: int
    ) -> pd.DataFrame:
        """Shared boolean-match + gated-fold + top-k tail over the
        per-unit postings (numpy mirror of query.InvertedIndex's
        ``_rank_units``)."""
        meta = self.meta
        if not per_unit:
            return _EMPTY.copy()
        order = sorted(per_unit)
        docs = np.unique(np.concatenate([per_unit[uid][0] for uid in order]))

        # boolean masks over `docs` — numpy mirror of the distributed
        # conj_cond/expr_cond recursion (exclude EXPRESSIONS subtract
        # their exact match set)
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
            return _EMPTY.copy()

        # FTS5 scoring gate (same rule as _search_parsed): an atom
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

        # gated fold — contributions per (unit, doc) in uid order,
        # identical float-op order to the distributed gated sum (adding
        # a gated-out contribution of 0.0 is a bitwise identity)
        k1, b, avgdl, n_docs = meta.k1, meta.b, meta.avgdl, meta.n_docs
        scores = np.zeros(docs.size, dtype=np.float64)
        for uid in order:
            gate = gates[uid]
            if gate is None:
                continue
            ids, tfs, dls = per_unit[uid]
            idf = float(
                idf_fn(n_docs, df_of.get(uid, int(ids.size)), meta.idf_variant)
            )
            tf = tfs.astype(np.float64)
            dl = dls.astype(np.float64)
            contrib = idf * (tf * (k1 + 1.0)) / (
                tf + (k1 * ((1.0 - b) + ((b * dl) / avgdl)))
            )
            p = np.searchsorted(docs, ids)
            sel = gate[p]
            scores[p[sel]] += contrib[sel]

        docs, scores = docs[match], scores[match]
        sel = np.lexsort((docs, -scores))[:k]
        return pd.DataFrame(
            {
                "rank": np.arange(1, len(sel) + 1, dtype=np.int32),
                "doc_id": docs[sel],
                "score": scores[sel],
            }
        )
