"""FTS5 auxiliary functions ``highlight()`` and ``snippet()`` — the
last piece of the reference engine's query-time API surface (SQLite
FTS5 aux functions; the reference's FTS5 table exposes them even though
``message_manager.py`` only calls ``bm25()``).

Semantics reconstructed by probing the installed SQLite (the parity
suite pins them exactly, tests/test_snippet_parity.py):

INSTANCE MODEL (shared with BM25 scoring): an instance is one matched
occurrence of a query phrase in a (doc, column) — reported only when a
DNF disjunct containing that phrase occurrence MATCHES the doc (FTS5's
gated instance-reporting model), with NEAR members contributing only
SUPPORTED instances, anchored (``^``) atoms only position 0, prefix
atoms every token with the stem prefix, and column filters restricting
the columns searched. Duplicate query atoms are distinct phrases.

``highlight(col)``: the column text with every instance wrapped in
start/end markers; instances whose token ranges OVERLAP (share a token)
merge into one region — merely adjacent instances do not merge.

``snippet(col, n)``: picks the best n-token window. Candidates, in
column order then instance-position order (576+ probe cases, zero
mismatches):
  - a window STARTING at each instance: score = Σ over instances whose
    start lies in the window of (first sight of that phrase in this
    candidate ? 1000 : 1); the window is then re-centered by
    ``start - trunc((n - span)/2)`` where span runs from the first
    instance start to the LAST instance end, clamped to
    [0, ncol - n] then to ≥ 0;
  - additionally the nearest SENTENCE START strictly before the
    instance (token 0, or any token whose preceding non-whitespace
    char is '.' or ':'), scored the same way plus a bonus of 120 when
    it is token 0 and 100 otherwise, used unadjusted — only when the
    column is longer than n tokens.
  Strictly-greater score wins (earliest candidate keeps ties); with no
  scoring candidate the first n tokens of the requested column (or
  column 0 for col=-1) are shown. The rendered text runs from the
  window's first token start (or the column start when the window
  starts at token 0) to the last token's end (or the column end when
  the window reaches it), with the ellipsis marking each truncated
  side; instance regions are clipped to the window.
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkgrep.functions.porter import porter_stem
from sparkgrep.functions.positional import near_mask
from sparkgrep.functions.querylang import (
    Conjunct,
    NearGroup,
    ParsedQuery,
    Unit,
    parse_query,
)
from sparkgrep.functions.tokenizer import _u61_components, is_u61_family

_SIMPLE_SPAN_RE = re.compile(r"[A-Za-z0-9]+")


def tokenize_offsets(text: str, analyzer: str) -> list[tuple[str, int, int]]:
    """Tokens with their character spans in the RAW text, matching the
    analyzer's canonical token stream. (For ``simple``, tokens whose
    characters only become ASCII after str.lower() — e.g. the Kelvin
    sign — are not recovered; such spans cannot be mapped back to raw
    offsets. fts5 is exact: unicode61 classification is on raw
    codepoints.)"""
    if text is None:
        return []
    out = []
    if analyzer == "fts5" or is_u61_family(analyzer):
        # unicode61 family (incl. option specs): classification is on
        # raw codepoints, so spans map back exactly; bare 'fts5'
        # resolves to the identical fast-path tables
        token_re, fold, stem = _u61_components(analyzer)
        for m in token_re.finditer(text):
            t = m.group().translate(fold)
            if stem:
                t = porter_stem(t)
            if t:
                out.append((t, m.start(), m.end()))
        return out
    if analyzer == "simple":
        for m in _SIMPLE_SPAN_RE.finditer(text):
            out.append((m.group().lower(), m.start(), m.end()))
        return out
    if analyzer.split(None, 1)[0] == "trigram":
        # exact: the 1:1 fold (identity under case_sensitive 1) means
        # window i covers codepoints [i, i+3), so overlapping matched
        # windows MERGE into the full matched substring under the
        # standard region-merging rule — SQLite's highlight on a
        # trigram table does exactly this (probed)
        from sparkgrep.functions.tokenizer import trigram_fold

        folded = text.translate(trigram_fold(analyzer))
        return [
            (folded[i : i + 3], i, i + 3) for i in range(len(folded) - 2)
        ]
    raise ValueError(
        "aux functions support analyzers 'simple', 'trigram' and the "
        "unicode61 family, "
        f"not {analyzer!r}"
    )


# ---------------------------------------------------------------------------
# per-document instance evaluation (driver/worker-side python over the
# few joined top-k rows — never over the corpus)


def _unit_instances(u: Unit, toks: list[str]) -> list[int]:
    """Start positions of the unit's instances in one column's tokens.
    Starred slots (single-stem prefix, '"a b"*' tail star, 'a* + b'
    internal stars) prefix-match their token; plain slots match
    exactly; ``^`` keeps only start 0."""
    from sparkgrep.functions.querylang import star_slots

    k = len(u.terms)
    star = set(star_slots(u))

    def _at(i: int) -> bool:
        return all(
            toks[i + j].startswith(t) if j in star else toks[i + j] == t
            for j, t in enumerate(u.terms)
        )

    if u.anchored:
        return [0] if len(toks) >= k and _at(0) else []
    return [i for i in range(len(toks) - k + 1) if _at(i)]


def _allowed_cols(u_cols, ncols: int) -> list[int]:
    if u_cols is None:
        return list(range(ncols))
    return [c for c in u_cols if c < ncols]


def _conjunct_matches(conj: Conjunct, cols_toks: list[list[str]]) -> bool:
    ncols = len(cols_toks)
    for u in conj.includes:
        if not any(
            _unit_instances(u, cols_toks[c])
            for c in _allowed_cols(u.cols, ncols)
        ):
            return False
    for grp in conj.nears:
        if _near_group_eval(grp, cols_toks) is None:
            return False
    for u in conj.excludes:
        if any(
            _unit_instances(u, cols_toks[c])
            for c in _allowed_cols(u.cols, ncols)
        ):
            return False
    for sub in conj.exclude_exprs:
        if any(_conjunct_matches(sc, cols_toks) for sc in sub):
            return False
    return True


def _near_group_eval(
    grp: NearGroup, cols_toks: list[list[str]]
) -> dict[int, list[list[int]]] | None:
    """Per-column supported member starts, or None when no column
    satisfies the group (NEAR never matches across columns — pinned).
    Every allowed column is one group of the positional kernel's NEAR
    mask (``positional.near_mask``, the scoring engine's
    ``querylang.near_supported`` rule), so the doc is one kernel call."""
    cols = _allowed_cols(grp.cols, len(cols_toks))
    if not cols:
        return None
    members = []
    for u in grp.phrases:
        per_col = [_unit_instances(u, cols_toks[c]) for c in cols]
        members.append((
            np.repeat(np.arange(len(cols)), [len(p) for p in per_col]),
            np.asarray([s for p in per_col for s in p], np.int64),
        ))
    masks = near_mask(members, [len(u.terms) for u in grp.phrases], grp.n)
    out = {}
    for j, c in enumerate(cols):
        sup = [pos[(g == j) & m].tolist() for (g, pos), m in zip(members, masks)]
        if sup[0]:  # every member is supported where any is
            out[c] = sup
    return out or None


def doc_instances(
    pq: ParsedQuery, cols_toks: list[list[str]]
) -> list[tuple[int, int, int, str]]:
    """All reported instances for one doc: (col, start, width, uid) for
    every include phrase of every MATCHING disjunct (FTS5 gating),
    deduplicated (DNF shares one phrase occurrence across disjuncts)."""
    ncols = len(cols_toks)
    seen: set[tuple[str, int, int]] = set()
    out: list[tuple[int, int, int, str]] = []

    def add(uid: str, width: int, c: int, starts: list[int]) -> None:
        for s in starts:
            key = (uid, c, s)
            if key not in seen:
                seen.add(key)
                out.append((c, s, width, uid))

    for conj in pq.disjuncts:
        if not _conjunct_matches(conj, cols_toks):
            continue
        for u in conj.includes:
            for c in _allowed_cols(u.cols, ncols):
                add(u.uid, len(u.terms), c, _unit_instances(u, cols_toks[c]))
        for grp in conj.nears:
            sup = _near_group_eval(grp, cols_toks)
            if not sup:
                continue
            for c, members in sup.items():
                for u, starts in zip(grp.phrases, members):
                    add(u.uid, len(u.terms), c, starts)
    out.sort(key=lambda t: (t[0], t[1], t[3]))
    return out


# ---------------------------------------------------------------------------
# renderers


def _merge_regions(insts: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Merge token ranges (start, end_exclusive) that OVERLAP (share a
    token); adjacent ranges stay separate — pinned against SQLite."""
    regions: list[list[int]] = []
    for s, e in sorted(insts):
        if regions and s < regions[-1][1]:
            regions[-1][1] = max(regions[-1][1], e)
        else:
            regions.append([s, e])
    return [(s, e) for s, e in regions]


def render_highlight(
    text: str,
    spans: list[tuple[str, int, int]],
    insts: list[tuple[int, int]],
    mark_start: str,
    mark_end: str,
) -> str:
    regions = _merge_regions(insts)
    out = []
    pos = 0
    for s_tok, e_tok in regions:
        cs = spans[s_tok][1]
        ce = spans[e_tok - 1][2]
        out.append(text[pos:cs])
        out.append(mark_start)
        out.append(text[cs:ce])
        out.append(mark_end)
        pos = ce
    out.append(text[pos:])
    return "".join(out)


def _sentence_starts(text: str, spans: list[tuple[str, int, int]]) -> list[int]:
    """Token 0, plus tokens preceded by whitespace whose nearest
    non-whitespace char is '.' or ':' — probed: the punctuation must be
    SEPARATED from the token ('margin:0' starts no sentence; ': ' does)."""
    sents = [0] if spans else []
    for i in range(1, len(spans)):
        j = spans[i][1] - 1
        if j < 0 or text[j] not in " \t\n\r":
            continue
        while j >= 0 and text[j] in " \t\n\r":
            j -= 1
        if j >= 0 and text[j] in ".:":
            sents.append(i)
    return sents


def choose_window(
    cols_insts: list[list[tuple[int, int, str]]],
    cols_text: list[str],
    cols_spans: list[list[tuple[str, int, int]]],
    n: int,
    col: int,
) -> tuple[int, int]:
    """(col, start) of the best snippet window; ``col`` = -1 lets every
    column compete (earliest wins ties)."""
    best = (0, max(col, 0), 0)
    for c in range(len(cols_text)):
        if col >= 0 and c != col:
            continue
        insts = sorted(cols_insts[c])
        ncol = len(cols_spans[c])
        sents = _sentence_starts(cols_text[c], cols_spans[c])
        for (io, _w, _u) in insts:
            seen: set[str] = set()
            sc = 0
            iF = -1
            iL = 0
            for (o2, w2, u2) in insts:
                if io <= o2 < io + n:
                    sc += 1 if u2 in seen else 1000
                    seen.add(u2)
                    if iF < 0:
                        iF = o2
                    iL = o2 + w2
            if sc > best[0]:
                d = n - (iL - iF)
                half = abs(d) // 2 * (1 if d >= 0 else -1)
                i_adj = io - half
                if i_adj + n > ncol:
                    i_adj = ncol - n
                if i_adj < 0:
                    i_adj = 0
                best = (sc, c, i_adj)
            if sents and ncol > n:
                jj = 0
                while jj < len(sents) - 1 and sents[jj + 1] <= io:
                    jj += 1
                sj = sents[jj]
                if sj < io:
                    seen = set()
                    sc = 0
                    for (o2, _w2, u2) in insts:
                        if sj <= o2 < sj + n:
                            sc += 1 if u2 in seen else 1000
                            seen.add(u2)
                    sc += 120 if sj == 0 else 100
                    if sc > best[0]:
                        best = (sc, c, sj)
    return best[1], best[2]


def render_snippet(
    text: str,
    spans: list[tuple[str, int, int]],
    insts: list[tuple[int, int]],
    start_tok: int,
    n: int,
    mark_start: str,
    mark_end: str,
    ellipsis: str,
) -> str:
    ncol = len(spans)
    end_tok = min(start_tok + n, ncol)
    if ncol == 0:
        return ""
    cs = 0 if start_tok == 0 else spans[start_tok][1]
    ce = len(text) if end_tok >= ncol else spans[end_tok - 1][2]
    clipped = []
    for s, e in insts:
        s2, e2 = max(s, start_tok), min(e, end_tok)
        if s2 < e2:
            clipped.append((s2, e2))
    body = render_highlight(
        text[cs:ce],
        [(t, a - cs, b - cs) for (t, a, b) in spans[start_tok:end_tok]],
        [(s - start_tok, e - start_tok) for (s, e) in clipped],
        mark_start,
        mark_end,
    )
    lead = ellipsis if start_tok > 0 else ""
    trail = ellipsis if end_tok < ncol else ""
    return lead + body + trail


# ---------------------------------------------------------------------------
# Spark operators


def _fields_of(index, field) -> list[str]:
    if index.meta.fields:
        return list(index.meta.fields)
    return [field or "content"]


def _aux_df(
    index,
    corpus: DataFrame,
    query: str,
    k: int,
    weights,
    fields: list[str],
    fmt,  # (pq, analyzer) -> per-row callable(cols_text) -> str
    out_col: str,
) -> DataFrame:
    """Shared plan: top-k search → broadcast hit join back to the
    corpus text columns → Arrow-batched formatting. Per-row python runs
    over exactly k rows, never the corpus."""
    analyzer = index.meta.analyzer
    pq = parse_query(query, analyzer, fields=index.meta.fields or None)
    hits = index.search_expr(query, k=k, weights=weights)
    joined = corpus.select("doc_id", *fields).join(
        F.broadcast(hits), "doc_id"
    )
    row_fn = fmt(pq, analyzer)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = [pdf[f].tolist() for f in fields]
            vals = [
                row_fn([col[i] if col[i] is not None else "" for col in texts])
                for i in range(len(pdf))
            ]
            yield pd.DataFrame(
                {
                    "rank": pdf["rank"],
                    "doc_id": pdf["doc_id"],
                    "score": pdf["score"],
                    out_col: vals,
                }
            )

    schema = f"rank int, doc_id long, score double, {out_col} string"
    return (
        joined.mapInPandas(gen, schema)
        .orderBy("rank")
    )


def search_highlight(
    index,
    corpus: DataFrame,
    query: str,
    k: int = 10,
    field: str | int | None = None,
    mark_start: str = "<b>",
    mark_end: str = "</b>",
    weights=None,
) -> DataFrame:
    """Top-k search with FTS5 ``highlight()`` of one column.

    ``field``: column name or index (default: the single content field;
    required for multi-field indexes)."""
    fields = _fields_of(index, field if isinstance(field, str) else None)
    if isinstance(field, int):
        if not 0 <= field < max(1, len(fields)):
            raise ValueError(
                f"field index {field} out of range for fields {fields!r}"
            )
        ci = field
    elif isinstance(field, str) and index.meta.fields:
        ci = fields.index(field)
    else:
        ci = 0
        if index.meta.fields and len(fields) > 1 and field is None:
            raise ValueError("multi-field index: pass field= to highlight")

    def fmt(pq, analyzer):
        def row(cols_text: list[str]) -> str:
            spans = [tokenize_offsets(t, analyzer) for t in cols_text]
            toks = [[t for (t, _a, _b) in sp] for sp in spans]
            insts = doc_instances(pq, toks)
            mine = [(s, s + w) for (c, s, w, _u) in insts if c == ci]
            return render_highlight(
                cols_text[ci], spans[ci], mine, mark_start, mark_end
            )

        return row

    return _aux_df(index, corpus, query, k, weights, fields, fmt, "highlight")


def search_snippet(
    index,
    corpus: DataFrame,
    query: str,
    k: int = 10,
    field: str | int | None = None,
    n_tokens: int = 10,
    mark_start: str = "<b>",
    mark_end: str = "</b>",
    ellipsis: str = "…",
    weights=None,
) -> DataFrame:
    """Top-k search with FTS5 ``snippet()``: best n-token window.

    ``field=None`` = FTS5's col -1 (every column competes)."""
    fields = _fields_of(index, field if isinstance(field, str) else None)
    if isinstance(field, int):
        if not 0 <= field < max(1, len(fields)):
            raise ValueError(
                f"field index {field} out of range for fields {fields!r}"
            )
        ci = field
    elif isinstance(field, str) and index.meta.fields:
        ci = fields.index(field)
    elif isinstance(field, str):
        ci = 0
    else:
        ci = -1 if index.meta.fields else 0

    def fmt(pq, analyzer):
        def row(cols_text: list[str]) -> str:
            spans = [tokenize_offsets(t, analyzer) for t in cols_text]
            toks = [[t for (t, _a, _b) in sp] for sp in spans]
            insts = doc_instances(pq, toks)
            per_col: list[list[tuple[int, int, str]]] = [
                [] for _ in cols_text
            ]
            for (c, s, w, u) in insts:
                per_col[c].append((s, w, u))
            c_sel, start = choose_window(
                per_col, cols_text, spans, n_tokens, ci
            )
            mine = [(s, s + w) for (s, w, _u) in per_col[c_sel]]
            return render_snippet(
                cols_text[c_sel],
                spans[c_sel],
                mine,
                start,
                n_tokens,
                mark_start,
                mark_end,
                ellipsis,
            )

        return row

    return _aux_df(index, corpus, query, k, weights, fields, fmt, "snippet")
