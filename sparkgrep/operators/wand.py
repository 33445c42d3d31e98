"""Pruned top-k serving: a MaxScore-style two-pass over the block-max
metadata stored in the index (north star's block-max WAND serving path),
with TRUE block skipping in pass 2 — v2 postings are block-addressable
(per-block offsets + block_min), so only candidate-touching blocks are
ever decoded.

Soundness requires non-negative per-term contributions (idf variants
``fts5``/``lucene``; raw ``okapi`` can go negative, where the algorithm
transparently falls back to exact scoring):

1. Split query terms into **essential** E (highest upper bound first)
   and the rest R, where UB_t = max over shards of max(block_max) —
   the build-time per-block BM25 maxima.
2. Pass 1: exact scoring over E only; its kth score θ is a valid lower
   bound of the final kth score (contributions are ≥ 0, so adding R
   terms only raises scores).
3. If Σ_{t∈R} UB_t < θ, no doc outside pass 1's match set can reach the
   top-k. Candidates = pass-1 docs with s_E(doc) + Σ_R UB_t ≥ θ.
4. Pass 2: full scoring with the one decode-and-score kernel
   (``query._decode_score_gen``) given the candidate set: it decodes only
   candidate-touching blocks and keeps only candidate docs, then the
   standard fold + top-k.

Results are rank- and score-identical to the exact path by construction
(pass 2 recomputes true scores; pruning only removes docs provably
below θ) — pinned by tests/test_wand.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkgrep.functions import evaluator as ev
from sparkgrep.functions.evaluator import seq_fold
from sparkgrep.functions.tokenizer import tokenize_py
from sparkgrep.operators.query import (
    _BATCH_RESULT,
    _COLLECT_BUDGET,
    InvertedIndex,
    _result_frame,
)
from sparkgrep.operators.score import idf as idf_fn


def _numpy_fold(rows, terms_sorted: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Fold collected (term, doc_id, contrib) rows into per-doc scores in
    the SAME float-addition order as ``score.fold_contribs`` (sorted-term
    left-associated sum, :func:`evaluator.seq_fold`)."""
    if not rows:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    tix_of = {t: i for i, t in enumerate(terms_sorted)}
    ids = np.fromiter((r["doc_id"] for r in rows), dtype=np.int64, count=len(rows))
    tix = np.fromiter((tix_of[r["term"]] for r in rows), dtype=np.int32, count=len(rows))
    contribs = np.fromiter((r["contrib"] for r in rows), dtype=np.float64, count=len(rows))
    return seq_fold(ids, tix, contribs, len(terms_sorted))


def _weighted_ubs(
    index: InvertedIndex, terms: list[str], w: list[float]
) -> dict[str, tuple[int, float]] | None:
    """{term: (df, UB_w)} where UB_w soundly bounds the term's WEIGHTED
    BM25 contribution idf·tfcomp(Σ_c w_c·tf_c, dl) over all live docs,
    from the per-field sidecar metadata (ub_cols = max_d idf·tfcomp(tf_c,
    dl); maxtf_cols = max_d tf_c). Two independent bounds, take the min:

    - **subadditive**: tfcomp(·, dl) is concave with tfcomp(0)=0, hence
      subadditive in tf, and tfcomp(w·x) ≤ max(w, 1)·tfcomp(x) for
      w ≥ 0 (monotone for w ≤ 1, concavity through 0 for w ≥ 1), so
      contrib ≤ Σ_c coef_c·ub_cols[c] with coef_c = 0 if w_c = 0 else
      max(w_c, 1);
    - **saturation**: Σ_c w_c·tf_c ≤ S = Σ_c w_c·maxtf_c and the denom
      K(dl) ≥ k1·(1−b), so contrib ≤ idf·S·(k1+1)/(S + k1·(1−b)).

    Requires non-negative finite weights (callers gate). Returns None
    when ANY query term lacks per-field bounds (pre-upgrade layer in its
    sidecar fold — query.py ``term_ubs_full``): weighted pruning then
    routes to the exact path rather than consume an unsound bound."""
    meta = index.meta
    full = index.term_ubs_full(terms)
    kmin = meta.k1 * (1.0 - meta.b)
    out: dict[str, tuple[int, float]] = {}
    for t, (df, _ub, ubc, mtf) in full.items():
        if ubc is None or mtf is None:
            return None
        ub_a = sum(
            (0.0 if wc == 0.0 else max(wc, 1.0)) * u for wc, u in zip(w, ubc)
        )
        s = sum(wc * m for wc, m in zip(w, mtf))
        gidf = float(idf_fn(meta.n_docs, df, meta.idf_variant))
        ub_b = gidf * (s * (meta.k1 + 1.0)) / (s + kmin) if s > 0 else 0.0
        out[t] = (df, min(ub_a, ub_b))
    return out


def plan_pruned(
    index: InvertedIndex,
    terms: list[str],
    k: int,
    prefix_cap: int | None = None,
    prune_margin: float = 0.5,
    weights=None,
) -> dict | None:
    """Job-free MaxScore viability planning off the memoized ``term_ubs``
    sidecar (shared by :func:`search_pruned` and
    :func:`search_batch_pruned`). Returns None when pruning is unsound
    (okapi idf; layered index without the layer-stats rescale; weighted
    scoring without per-field sidecar bounds or with negative weights)
    or provably/predictably unprofitable
    (every driver-side gate in :func:`search_pruned`'s docstring);
    otherwise ``{'essential', 'rest_ub', 'cap', 'ess_df', 'weights'}``.

    ``weights`` (explicit per-field BM25 weights) or a persisted rank
    configuration (set_rank) switch planning to the WEIGHTED bounds
    (:func:`_weighted_ubs`) and mark the plan so the passes decode the
    per-field tf streams; identity weights (all 1.0) reduce to the
    unweighted plan (the total stream IS the all-ones weighted sum —
    bitwise, exact integer tfs)."""
    meta = index.meta
    if not terms or meta.idf_variant == "okapi":
        return None
    w: list[float] | None = None
    eff = weights if weights is not None else (
        list(meta.rank_weights) if getattr(meta, "rank_weights", ()) else None
    )
    if eff is not None:
        if not meta.per_field:
            # weights are an error (single-field) or unsupported
            # (detail=none) on this index: the exact path raises the
            # canonical message — route there
            return None
        w = index._weights_list(eff)
        if all(x == 1.0 for x in w):
            w = None  # identity: stored total streams already score this
        elif any(not (x >= 0.0) or x == float("inf") for x in w):
            # negative (or NaN/inf) weights break contribution
            # non-negativity — MaxScore's θ lower-bound argument fails
            return None
    if getattr(index, "is_layered", False) and not getattr(
        index, "pruning_sound", False
    ):
        # pre-layer-stats layered index: per-layer sidecar ubs cannot be
        # rescaled into global bounds (query.py _fold_sidecar_rows) —
        # only then does pruning route to exact; delta/tombstone layers
        # written with layer_stats snapshots keep pruning enabled
        return None
    ubs_map = (
        _weighted_ubs(index, terms, w) if w is not None else index.term_ubs(terms)
    )
    if ubs_map is None:
        return None  # per-field bounds missing (pre-upgrade sidecar)
    if not ubs_map:
        return None
    ubs = sorted(((t, ub) for t, (_, ub) in ubs_map.items()), key=lambda x: -x[1])
    if len(ubs) == 1:
        return None
    n_ess = 1
    while n_ess < len(ubs):
        ess_ub = sum(u for _, u in ubs[:n_ess])
        rest_ub = sum(u for _, u in ubs[n_ess:])
        if rest_ub < prune_margin * ess_ub:
            break
        n_ess += 1
    else:
        return None
    essential = sorted(t for t, _ in ubs[:n_ess])
    rest_ub = sum(u for _, u in ubs[n_ess:])
    cap = prefix_cap or max(4 * k, 256)
    ess_df = sum(ubs_map[t][0] for t in essential)
    if ess_df > max(64 * k, meta.n_docs // 16):
        return None
    if ess_df < k:
        return None
    return {
        "essential": essential, "rest_ub": rest_ub, "cap": cap,
        "ess_df": ess_df, "weights": w,
    }


def search_pruned(
    index: InvertedIndex,
    query_text: str,
    k: int = 10,
    prefix_cap: int | None = None,
    prune_margin: float = 0.5,
    weights=None,
) -> DataFrame:
    """Top-k with MaxScore pruning in at most TWO Spark jobs; exact-path
    fallback whenever pruning is unsound (okapi idf) or would not pay.

    Job anatomy (the round-2 version ran four jobs — a UB metadata
    collect, pass 1, a second full pass-1 recompute for the candidate
    filter, pass 2):

    - planning is job-FREE: per-term (df, UB) comes from the driver-
      memoized ``term_ubs`` sidecar (``InvertedIndex.term_ubs``), which
      also decides driver-side whether pruning can pay at all. θ can
      never exceed Σ UB(essential), so if ``Σ UB(rest) ≥ prune_margin ×
      Σ UB(essential)`` the candidate cut is provably (margin=1) or
      predictably (margin<1) too weak — go exact in ONE job. This is
      the all-hot-terms case (tiny idf → flat tiny scores → candidates
      ≈ the whole corpus), where a "pruned" query otherwise does strictly
      more work than the exact path. MaxScore pays on selective
      queries — a rare high-UB term plus common context terms;
    - pass 1 (job 1) collects the top ``C = max(4k, 256)``
      essential-term scores (TakeOrderedAndProject, driver-bounded).
      θ = the kth score, and because candidates are exactly the docs
      with ``s_E ≥ θ - Σ UB(rest)`` — a PREFIX of the score-descending
      pass-1 ordering — the same collect yields the candidate set. If
      the prefix is exhausted (> C candidates), the cut is too weak to
      beat a full scan: fall back to exact rather than widen;
    - pass 2 (job 2) re-scores candidates over ALL terms with true
      block skipping (v2 per-block offsets), fold order identical to
      the exact path → bitwise-identical scores.

    ``weights`` (or a persisted rank configuration): per-field BM25
    weights — planning switches to the per-field sidecar bounds
    (:func:`_weighted_ubs`) and both passes decode the per-field tf
    streams through ``InvertedIndex._contribs(terms, w)`` (the one
    decode-and-score kernel), bitwise-identical to the exact weighted
    path.
    """
    spark = index.spark
    meta = index.meta
    terms = sorted(set(tokenize_py(query_text, meta.analyzer)))
    if not terms:
        return _result_frame(spark, ev.empty_result())
    # driver-side viability planning (see plan_pruned): unsound idf /
    # layered index / hot-essential / margin-failing queries run exact —
    # the minimal top-UB essential prefix keeps hot terms (huge df, tiny
    # UB) OUT of pass 1 while θ still can't be threatened by the rest
    plan = plan_pruned(index, terms, k, prefix_cap, prune_margin, weights=weights)
    if plan is None:
        if weights is None and not index.term_ubs(terms):
            # no query term has postings
            return _result_frame(spark, ev.empty_result())
        return index.search(query_text, k, weights=weights)
    essential, rest_ub, cap, ess_df = (
        plan["essential"], plan["rest_ub"], plan["cap"], plan["ess_df"]
    )
    w = plan["weights"]

    def _exact():
        return index.search(query_text, k, weights=weights)

    # pass 1 (job 1): exact partial scores over essential terms.
    # Selective queries (the only ones that reach here) have small
    # essential posting lists — when Σ df(essential) fits the driver
    # budget, collect raw contributions from the narrow decode stage and
    # fold in numpy (identical float order to fold_contribs — the
    # LocalServer equivalence, pinned by tests) → pass 1 is ONE
    # shuffle-free stage. Oversized essential lists keep the distributed
    # fold + TakeOrderedAndProject plan.
    if ess_df <= _COLLECT_BUDGET:
        rows = index._contribs(essential, w).collect()
        docs, scores = _numpy_fold(rows, essential)
        order = np.lexsort((docs, -scores))
        docs, scores = docs[order], scores[order]
        if len(docs) < k or rest_ub >= scores[k - 1]:
            return _exact()
        theta = float(scores[k - 1])
        cand = docs[scores + rest_ub >= theta]
        if len(cand) > cap:  # cut too weak to beat the exact scan
            return _exact()
    else:
        s1 = index._fold_scores(index._contribs(essential, w), essential)
        top1 = s1.orderBy(F.desc("score"), F.asc("doc_id")).limit(cap).collect()
        if len(top1) < k or rest_ub >= top1[k - 1]["score"]:
            # not enough matches to bound, or rest terms could beat θ
            return _exact()
        theta = top1[k - 1]["score"]
        # candidates are a PREFIX of the score-descending pass-1 ordering;
        # an exhausted prefix means the cut is too weak — fall back
        if len(top1) == cap and top1[-1]["score"] + rest_ub >= theta:
            return _exact()
        cand = [r["doc_id"] for r in top1 if r["score"] + rest_ub >= theta]
    cand_ids = np.asarray(sorted(int(d) for d in cand), dtype=np.int64)

    # pass 2 (job 2): true scores over candidates only — block-skipping
    # decode over all query terms, ≤ cap × |terms| rows collected, numpy
    # fold in the exact path's float order → bitwise-identical scores
    contribs = index._contribs(terms, w, candidates=cand_ids)
    docs, scores = _numpy_fold(contribs.collect(), terms)
    sel = np.lexsort((docs, -scores))[:k]
    return _result_frame(spark, ev.ranked(docs[sel], scores[sel]))


def search_batch_pruned(
    index: InvertedIndex,
    queries: list[tuple[str, str, int]],
    prune_margin: float = 0.5,
) -> DataFrame:
    """Batched serving with MaxScore routing: selective queries share ONE
    pass-1 job (union of essential terms) and ONE block-skipping pass-2
    job (union of candidates × union of their terms); everything the
    planner routes exact — hot, okapi, margin-failing, layered without
    the stats rescale — shares the ordinary single-scan batched fold. At most 3 Spark jobs per
    batch regardless of query count, decode work ∝ candidate-touching
    blocks for the selective share. Results are bitwise-identical to
    ``InvertedIndex.search_batch`` (pass 2 recomputes true contributions
    and folds per query in the exact path's sorted-term float order —
    pinned by tests/test_wand.py).

    Local-mode note (same as single-query pruning): at sandbox scale the
    ~0.5 s fixed cost per Spark job dominates, so the wall win appears
    only when decode volume does; the bench records both paths.
    """
    spark = index.spark
    analyzer = index.meta.analyzer
    parsed = []  # (qid, terms, k, plan|None)
    budget = _COLLECT_BUDGET
    for qid, text, k in queries:
        terms = sorted(set(tokenize_py(text, analyzer)))
        plan = plan_pruned(index, terms, k, prune_margin=prune_margin)
        # shared pass-1 collect budget: greedily admit in caller order
        if plan is not None and plan["ess_df"] <= budget:
            budget -= plan["ess_df"]
        else:
            plan = None
        parsed.append((qid, text, terms, k, plan))

    pruned = [p for p in parsed if p[4] is not None]
    # under a persisted rank configuration every plan carries the same
    # normalized weights (the batch API passes none per query): the
    # shared pass-1/pass-2 stages decode the per-field streams once for
    # the whole batch, mirroring the shared-decode weighted exact batch
    w = pruned[0][4]["weights"] if pruned else None
    exact: list[tuple[str, str, int]] = [
        (qid, text, k) for qid, text, _t, k, plan in parsed if plan is None
    ]
    out_rows: list[tuple] = []

    if pruned:
        # pass 1 (shared job): raw contributions for the UNION of
        # essential terms; per-query numpy folds over its own slice
        ess_union = sorted({t for _q, _x, _t, _k, pl in pruned for t in pl["essential"]})
        rows1 = index._contribs(ess_union, w).collect()
        by_term: dict[str, list] = {}
        for r in rows1:
            by_term.setdefault(r["term"], []).append(r)
        stage2 = []  # (qid, terms, k, cand_ids)
        for qid, text, terms, k, plan in pruned:
            ess = plan["essential"]
            rows_q = [r for t in ess for r in by_term.get(t, [])]
            docs, scores = _numpy_fold(rows_q, ess)
            order = np.lexsort((docs, -scores))
            docs, scores = docs[order], scores[order]
            rest_ub, cap = plan["rest_ub"], plan["cap"]
            if len(docs) < k or rest_ub >= scores[k - 1]:
                exact.append((qid, text, k))
                continue
            theta = float(scores[k - 1])
            cand = docs[scores + rest_ub >= theta]
            if len(cand) > cap:  # cut too weak to beat the exact scan
                exact.append((qid, text, k))
                continue
            stage2.append((qid, terms, k, np.asarray(sorted(cand), dtype=np.int64)))
        if stage2:
            # pass 2 (shared job): block-skipping decode over the union
            # candidate set and union term set, then per-query folds
            # restricted to (its terms × its candidates)
            union_terms = sorted({t for _q, ts, _k, _c in stage2 for t in ts})
            union_cands = np.unique(np.concatenate([c for _q, _t, _k, c in stage2]))
            rows2 = index._contribs(
                union_terms, w, candidates=union_cands
            ).collect()
            by_term2: dict[str, list] = {}
            for r in rows2:
                by_term2.setdefault(r["term"], []).append(r)
            for qid, terms, k, cand in stage2:
                rows_q = [
                    r
                    for t in terms
                    for r in by_term2.get(t, [])
                    if np.searchsorted(cand, r["doc_id"]) < len(cand)
                    and cand[np.searchsorted(cand, r["doc_id"])] == r["doc_id"]
                ]
                docs, scores = _numpy_fold(rows_q, terms)
                sel = np.lexsort((docs, -scores))[:k]
                out_rows.extend(
                    (qid, int(i + 1), int(docs[s]), float(scores[s]))
                    for i, s in enumerate(sel)
                )

    if exact:
        out_rows.extend(
            (r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in index.search_batch(exact).collect()
        )
    out_rows.sort(key=lambda r: (r[0], r[1]))
    out = pd.DataFrame(out_rows, columns=["query_id", "rank", "doc_id", "score"])
    out = out.astype({"rank": "int32", "doc_id": "int64", "score": "float64"})
    return _result_frame(spark, out, _BATCH_RESULT)
