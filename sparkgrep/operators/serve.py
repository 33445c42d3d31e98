"""Low-latency serving tier: resident postings, no Spark job per query.

One evaluator answers every query (``functions/evaluator.py``, numpy);
it reads decoded postings entries from a provider and has two drivers.
The distributed ``InvertedIndex`` (``operators/query.py``) is the fetch
driver: one bucket-pruned Spark job collects a query's entries, the
evaluator ranks on the driver, and nothing is kept — every query pays
that one job (or, past the collect budget, the executor-side DataFrame
evaluator's several). :class:`LocalServer` is the caching driver, the
engine's analogue of a serving NODE: it pulls a term's postings out of
the index ONCE (the same bucket-pruned fetch on first touch) and keeps
them resident, so a warmed query runs no Spark job at all — what the
reference gets from holding its whole SQLite index in one process
(``message_manager.py:225-264``, BASELINE.md ~50 ms DB ops). On a
cluster this is exactly what a serving shard does — hold its resident
term partitions in memory, answer from them. Results are rank- and
score-identical to ``InvertedIndex.search`` by construction: the same
evaluator over the same entries.

One resident cache, one entry per term or ``stem*``
(``evaluator.Postings``), decoded once through the postings decoder
(``functions/postings.py``): docs ascending, dls, the per-field tf
matrix (the total-tf stream as one column on every other layout), the
stored df and — exactly when the index stores positions — one flat
(doc row, field, position) entry per instance, sorted. A ``stem*``
entry is the union of its matching terms (tfs summed, positions
merged).
"""

from __future__ import annotations

import pandas as pd

from sparkgrep.functions import evaluator as ev
from sparkgrep.functions.querylang import parse_query, plain_terms, stem_terms
from sparkgrep.functions.tokenizer import tokenize_py
from sparkgrep.operators.query import InvertedIndex, _any_of


class LocalServer:
    """Driver-resident serving handle over a built index: the caching
    provider of the evaluator (``meta``, ``nf``, :meth:`term`,
    :meth:`stem`).

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
        self.nf = ev.field_count(self.meta)
        # the one resident cache: term -> Postings, (stem, "*") -> the
        # stem's union; a term without postings holds an empty entry
        self._cache: dict = {}

    # -- fetch ----------------------------------------------------------------

    def _fetch(self, terms, stems=()) -> None:
        """Entries for ``terms`` and ``stem*`` unions: one Spark job for
        every missing term and every missing stem the term dictionary
        resolves (``InvertedIndex._fetch_postings``)."""
        missing = [t for t in terms if t not in self._cache]
        todo = {
            s: self.index.prefix_terms(s) for s in stems if (s, "*") not in self._cache
        }
        if missing or todo:
            for key, e in self.index._fetch_postings(missing, todo).items():
                self._cache.setdefault(key, e)

    def term(self, t: str) -> ev.Postings:
        hit = self._cache.get(t)
        if hit is None:
            self._fetch([t])
            hit = self._cache[t]
        return hit

    def stem(self, s: str) -> ev.Postings:
        hit = self._cache.get((s, "*"))
        if hit is None:
            self._fetch((), [s])
            hit = self._cache[(s, "*")]
        return hit

    def warm(self, queries: list[str]) -> "LocalServer":
        """Prefetch the entries a query workload reads in ONE Spark job:
        bag-of-words tokens and the query language's plain terms, phrase
        slots, NEAR members and ``stem*`` unions. A query that
        :meth:`_over_residency_cap` would delegate is skipped: the cap
        bounds what warming pulls resident too."""
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
        self._fetch(sorted(terms), sorted(stems))
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
        terms = sorted(set(tokenize_py(query_text, meta.analyzer)))
        if not terms:
            return ev.empty_result()
        if meta.rank_weights:
            # persisted rank configuration (set_rank): the distributed
            # OR mode's DNF through the weighted fold, as
            # ``InvertedIndex.search`` runs it; queries over the
            # residency cap still delegate inside it
            return self._search_parsed(_any_of(terms), k, list(meta.rank_weights))
        if self._over_residency_cap(terms):
            return self.index._search_pdf(query_text, k)
        self._fetch(terms)
        return ev._bow(self, terms, k, self.index._layered_dfs(terms))

    def search_expr(
        self, query_text: str, k: int = 10, strict: bool = False, weights=None
    ) -> pd.DataFrame:
        """Full query language (implicit/explicit AND, OR, NOT, quoted
        phrases; on multi-field indexes also FTS5 column filters and
        per-column bm25 weights) on the serving tier — rank- and
        score-identical to ``InvertedIndex.search_expr`` (the same
        evaluator), at in-process latency."""
        meta = self.meta
        if weights is None and meta.rank_weights:
            # FTS5 'rank' configuration (set_rank): persisted default
            # weights; explicit weights override (rank MATCH — probed)
            weights = list(meta.rank_weights)
        pq = parse_query(query_text, meta.analyzer, fields=meta.fields or None)
        if not pq.disjuncts:
            if strict:
                raise ValueError("empty query (FTS5 parity: empty MATCH is an error)")
            return ev.empty_result()
        return self._search_parsed(pq, k, weights)

    def _search_parsed(self, pq, k: int, weights) -> pd.DataFrame:
        """Expr serving under the distributed tier's gates and field
        layout (``InvertedIndex._expr_weights``) — pinned against
        ``InvertedIndex.search_expr`` in tests/test_multicol_parity.py,
        tests/test_fts5_parity.py and tests/test_expr_equivalence.py."""
        w, nf = self.index._expr_weights(pq, weights)
        units = pq.units()
        terms = sorted({t for u in units for t in plain_terms(u)})
        stems = sorted({s for u in units for s in stem_terms(u)})
        if self._over_residency_cap(terms, stems):
            return self.index._search_parsed(pq, k, weights)
        # one job for every missing term (NEAR members are units too)
        # and every missing stem
        self._fetch(terms, stems)
        return ev._search_parsed(self, pq, units, k, w, nf)
