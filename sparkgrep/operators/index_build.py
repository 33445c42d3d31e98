"""Inverted-index construction: SPIMI per partition → salted global merge
→ term-partitioned, varint-compressed postings table.

Reference analogue: FTS5 builds its inverted index row-at-a-time behind
INSERT triggers (``message_manager.py:113-137``), single-writer B-tree.
The engine instead treats the index as a *derived dataset* built by one
Spark job (SURVEY S6/R2/R4):

1. **SPIMI pass** (`mapInPandas`, narrow): tokenize each doc batch and
   fold it to per-(doc[, field], term) frequencies locally with one
   vectorized factorize + lexsort (:func:`_pair_fold`) — tf is
   intra-document, so no shuffle is needed to compute it. Doc length
   rides along on one sentinel row per doc; the doc_lens write counts
   N and the token total as it goes (``DataFrame.observe``).
2. **Stats + df pass**, only when a term CAN be hot (n_docs >
   postings_per_shard — a df never exceeds n_docs): one
   `groupBy(term)` with map-side partial aggregation (a count per term
   per task, so hot terms like ``def``/``import`` cost one row per
   task, not one per posting), filtered on the driver to the hot terms.
3. **Salted merge**: broadcast the hot terms' df onto the runs, then
   shard each hot term's postings by ``xxhash64(doc_id) % n_shards``
   where ``n_shards = ceil(df / postings_per_shard)``. This bounds every
   merge group — and every output row — to ~postings_per_shard entries,
   which is what actually survives 10^12 docs: a hot term's postings
   can never concentrate on one task or one row. Cold terms land whole
   in one group and count their own df/cf.
4. **Encode** (streaming `mapInPandas` over the (term, shard)-
   partitioned, doc-sorted exchange, many groups per Arrow batch):
   gap+varint docIDs, varint tfs/dls (and per-field streams), and
   per-block (BLOCK_SIZE postings) BM25 upper bounds for block-max
   WAND — each one whole-frame numpy kernel call
   (:func:`_encode_groups_frame`, :mod:`sparkgrep.functions.varint`)
   sliced per group.

Layout on disk::

    <out>/postings/bucket=<b>/*.parquet   # bucket = xxhash64(term) % n_buckets
    <out>/doc_lens/*.parquet
    <out>/term_ubs/*.parquet              # per-term df + BM25 bound, range-sorted
    <out>/stats.json                      # N, avgdl, analyzer, codec params

Every table is written by the one writer, ``fsio.write_parquet``: zstd
pages at parquet-mr's default level, whatever codec the session sets.
Each postings file holds its rows in ``(term, shard)`` order
(:func:`write_postings`), so its row groups cover ascending,
non-overlapping term ranges and a ``term IN (...)`` lookup can skip
row groups on their ``term`` min/max statistics. Indexes written
earlier with snappy pages still read: a codec is per file, and no
reader depends on the row order.

Everything is deterministic under any parallelism: shard assignment is
a pure hash, postings are sorted by doc_id before encoding, and doc_ids
are ingest-assigned (SURVEY §7.4).
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import asdict, dataclass, replace
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sparkgrep import BM25_B, BM25_K1
from sparkgrep.functions.tokenizer import (
    tokenize_flat,
    validate_analyzer,
    base_analyzer,
)
from sparkgrep.functions.varint import (
    blocked_gap_encode,
    delta_decode_segments,
    delta_encode_segments,
    segment_byte_offsets,
    segment_deltas,
    varint_byte_lengths,
    varint_decode,
    varint_encode,
)
from sparkgrep.schema import TERM_FREQ_POS_SCHEMA, TERM_FREQ_SCHEMA
from sparkgrep.sources import fsio

BLOCK_SIZE = 128
XXHASH_SEED = 42  # F.xxhash64's fixed seed

# FTS5 ``prefix=`` indexes (https://sqlite.org/fts5.html#prefix_indexes):
# for each configured length n, the index holds one extra posting list
# per distinct n-char term prefix, aggregating every matching term's
# postings — so ``ab*`` is ONE term lookup instead of a dictionary
# resolve + multi-term decode. Prefix entries live in the SAME postings
# table under a marker term ('\x02' + prefix): they bucket, shard,
# merge, layer, tombstone and compact as ordinary terms, and every
# query path reaches them through InvertedIndex.prefix_terms. The
# marker can never collide with a real token: unicode61 classifies
# control codepoints as separators and the simple/code analyzers split
# on non-alphanumerics, so no supported analyzer emits '\x02' (trigram
# could — prefix= is refused there, a documented divergence from FTS5,
# which accepts the combination but gains nothing from it). Probed on
# real SQLite (3.40): prefix indexes are pure acceleration — bm25
# results are IDENTICAL with and without them on every grammar
# construct (plain/phrase-star/NEAR/anchored prefix; see
# tests/test_prefix_index.py).
PREFIX_MARKER = "\x02"


def normalize_prefix(prefix) -> tuple:
    """FTS5 ``prefix=`` option → sorted tuple of distinct lengths.
    Accepts an int, an iterable of ints, or FTS5's space/comma-separated
    string ('2 3'); validation mirrors SQLite's messages (probed:
    lengths 1..999, duplicates legal, non-ints are 'malformed')."""
    if prefix is None:
        return ()
    if isinstance(prefix, int):
        prefix = [prefix]
    elif isinstance(prefix, str):
        prefix = prefix.replace(",", " ").split()
    out = set()
    for p in prefix:
        try:
            n = int(p)
        except (TypeError, ValueError):
            raise ValueError("malformed prefix=... directive") from None
        if not 1 <= n <= 999:
            raise ValueError("prefix length out of range (max 999)")
        out.add(n)
    return tuple(sorted(out))


def check_prefix_analyzer(prefix_t: tuple, analyzer: str) -> None:
    """Shared guard for every build/append path: ``prefix=`` marker terms
    are '\\x02' + the token's first n chars, and trigram tokens may
    contain ANY codepoint (including '\\x02'), so derived markers could
    collide with real trigram tokens and corrupt postings. Refused at
    every entry point (build_index, merge_and_write — which
    build_index_checkpointed / append_batch / append_batch_delta all
    funnel through)."""
    if prefix_t and base_analyzer(analyzer) == "trigram":
        raise ValueError(
            "prefix= indexes are not supported with the trigram "
            "tokenizer (every term is exactly 3 codepoints)"
        )


def _merge_positions(s: pd.Series):
    """Union of a group's per-term position arrays, sorted ascending —
    positions of distinct terms within one doc are disjoint, so this is
    exactly the relation a multi-term ``stem*`` decode computes."""
    if len(s) == 1:
        return np.asarray(s.iloc[0], dtype=np.int32)
    return np.sort(
        np.concatenate([np.asarray(x, dtype=np.int32) for x in s])
    )


def _derive_prefix_rows(
    run: pd.DataFrame, prefix_lengths: tuple, positions: bool, mc: bool
) -> pd.DataFrame | None:
    """Marker rows for a ``prefix=`` index, derived from a SPIMI run
    frame (one row per (doc[, field], term)): for each configured length
    n, every term with >= n chars contributes its posting to the entry
    ``'\\x02' + term[:n]`` — tf summed, positions merged sorted, all
    within the same (doc[, field]) group. Intra-document work: rides the
    SPIMI pass, so prefix entries ship through the build's single
    shuffle like any term. Sentinel rows (term='', len 0) never match
    ``len >= n >= 1`` and are excluded for free."""
    tl = run["term"].str.len()
    parts = []
    for n in prefix_lengths:
        sub = run[tl >= n]
        if sub.empty:
            continue
        parts.append(
            sub.assign(term=PREFIX_MARKER + sub["term"].str.slice(0, n))
        )
    if not parts:
        return None
    allp = pd.concat(parts, ignore_index=True)
    keys = ["term", "doc_id", "col"] if mc else ["term", "doc_id"]
    aggs = {"tf": ("tf", "sum"), "dl": ("dl", "first")}
    if positions:
        aggs["positions"] = ("positions", _merge_positions)
    out = allp.groupby(keys, sort=False).agg(**aggs).reset_index()
    out["tf"] = out["tf"].astype("int32")
    out["dl"] = out["dl"].astype("int32")
    return out[run.columns.tolist()]


def _extend_pairs_with_prefixes(uniq, p_code, p_didx, p_tf, ndocs, prefix_lengths):
    """Pair-level prefix derivation for the fused SPIMI encoder:
    aggregate each (doc, term) pair's tf into (doc, '\\x02'+term[:n])
    pairs per configured length and append them to the pair arrays —
    the same relation :func:`_derive_prefix_rows` yields on the raw
    path, so fused and raw builds stay byte-for-byte identical with
    ``prefix=`` set (asserted in tests/test_prefix_index.py)."""
    uniq_arr = np.asarray(uniq, dtype=object)
    t_pair = uniq_arr[p_code]
    tl = np.fromiter((len(s) for s in t_pair), dtype=np.int64, count=len(t_pair))
    d_terms, d_didx, d_tf = [], [], []
    for n in prefix_lengths:
        m = tl >= n
        if not m.any():
            continue
        d_terms.append(
            np.asarray(
                [PREFIX_MARKER + s[:n] for s in t_pair[m]], dtype=object
            )
        )
        d_didx.append(p_didx[m])
        d_tf.append(p_tf[m])
    if not d_terms:
        return p_code, uniq, p_didx, p_tf
    dt = np.concatenate(d_terms)
    dd = np.concatenate(d_didx)
    dtf = np.concatenate(d_tf)
    # aggregate duplicates (two tokens sharing a prefix within one doc)
    dcodes, _duniq = pd.factorize(dt, sort=False)
    key = dcodes.astype(np.int64) * ndocs + dd
    order = np.argsort(key)
    sk = key[order]
    change = np.flatnonzero(sk[1:] != sk[:-1]) + 1
    st = np.concatenate(([0], change))
    en = np.concatenate((change, [len(sk)]))
    ctf = np.cumsum(dtf[order])
    agg_tf = ctf[en - 1] - np.where(st > 0, ctf[st - 1], 0)
    first = order[st]
    comb_terms = np.concatenate((t_pair, dt[first]))
    comb_didx = np.concatenate((p_didx, dd[first]))
    comb_tf = np.concatenate((p_tf, agg_tf))
    codes2, uniq2 = pd.factorize(comb_terms, sort=False)
    return codes2, uniq2, comb_didx, comb_tf


@dataclass(frozen=True)
class IndexMeta:
    n_docs: int
    avgdl: float
    total_tokens: int
    analyzer: str
    n_buckets: int
    postings_per_shard: int
    block_size: int
    k1: float
    b: float
    idf_variant: str
    version: int = 2  # v2: block-addressable postings (gap reset + offsets)
    has_positions: bool = False
    # vocabulary size, for the driver-side decision to load the whole
    # term_ubs sidecar (-1 = sidecar absent / pre-sidecar index). On a
    # layered index this is an upper bound (Σ per-layer vocabularies).
    n_terms: int = -1
    # log-structured DELTA layers (relative subdirs, append order): the
    # reader serves base + deltas with exact global stats; compaction
    # folds them back (plans/manifest.py: append_batch_delta /
    # compact_index)
    layers: tuple = ()
    # TOMBSTONE layers (relative subdirs, delete order): each holds the
    # deleted doc_ids plus a term_ubs sidecar with NEGATED dfs (the
    # reader's cross-layer df summation subtracts them); tombstone_cuts
    # records, per tombstone, how many postings layers existed at delete
    # time — the mask applies only to layers OLDER than the tombstone,
    # so re-appending a deleted doc_id (an UPDATE) serves the new
    # version (plans/manifest.py: delete_batch_delta)
    tombstones: tuple = ()
    tombstone_cuts: tuple = ()
    # indexes (into ``tombstones``) of tombstones whose doc_ids have been
    # PHYSICALLY removed from every layer they masked
    # (plans/purge.py:purge_deleted — the FTS5 'secure-delete' analogue):
    # the reader skips their decode-time mask (nothing left to mask) but
    # keeps folding their negated-df sidecars, which remain the exact
    # global-df correction for the stale per-row dfs in old layers.
    tombstone_purged: tuple = ()
    # per-POSTINGS-layer build-time stats, aligned with [base] + layers:
    # (n_docs, avgdl) as they were when that layer's block_max / term_ubs
    # values were computed. A layer's sidecar ub is idf_layer·tfcomp_layer;
    # these snapshots let the reader rescale it into a GLOBAL-sound
    # MaxScore bound (query.py term_ubs): ub_g = ub_L · idf_g/idf_L ·
    # max(1, avgdl_g/avgdl_L) — the tf component is monotone in avgdl
    # with supremum ratio avgdl_g/avgdl_L. Empty = unknown (pre-upgrade
    # layered index): pruning then routes to the exact path as before.
    layer_stats: tuple = ()
    # MULTI-FIELD index (FTS5 multi-column analogue — the reference's
    # FTS5 table indexes subject/body_text/sender,
    # message_manager.py:101-110): the ordered names of the indexed
    # corpus columns. Empty = classic single-content index (every legacy
    # code path and byte layout unchanged). Multi-field postings carry
    # per-field tf streams (tfs_cols) and field-relative position
    # streams (poss_cols) so column filters (``col:``), per-column BM25
    # weights, '^' field anchors, and within-field phrases/NEAR follow
    # SQLite FTS5 exactly (tests/test_multicol_parity.py).
    fields: tuple = ()
    # FTS5 ``detail=`` storage option (probed 2026-08): 'full' keeps
    # positions, 'column' per-field tf streams without positions,
    # 'none' only the total-tf streams — colset queries then raise
    # FTS5's "column queries are not supported (detail=none)" and a
    # detail=none index is stored and decoded EXACTLY like a
    # single-field index (fields kept in meta only for colspec parsing).
    # NOTE one deliberate divergence, both directions exact where
    # supported: FTS5 detail=none/column tables store NO tf at all and
    # recompute aux data by re-tokenizing stored row content (slow); we
    # store no content, so we keep the (tiny) total-tf varint stream —
    # plain/prefix/weighted-column bm25 stays exact without any rescan.
    # '' = legacy index: derived in effective_detail().
    detail: str = ""
    # FTS5 ``prefix=`` option: the configured prefix lengths (sorted,
    # distinct). For each length n the postings hold one aggregated
    # marker entry ('\x02' + prefix) per distinct n-char term prefix;
    # InvertedIndex.prefix_terms resolves a matching ``stem*`` straight
    # to its marker — one term lookup, no dictionary scan. () = none.
    prefix: tuple = ()
    # FTS5 'rank' configuration option (persisted default rank function,
    # sqlite.org/fts5.html — "INSERT INTO t(t, rank) VALUES('rank',
    # 'bm25(10.0, 5.0)')"): per-field BM25 weights applied whenever a
    # query passes no explicit weights; per-query weights still override
    # (FTS5's `rank MATCH` — probed). () = unset (all-1.0 default).
    # Set via plans.manifest.set_rank; preserved across delta appends,
    # deletes, merges and compaction.
    rank_weights: tuple = ()

    def effective_detail(self) -> str:
        """The index's FTS5 detail level, derived for pre-knob indexes
        from what they physically store."""
        if self.detail:
            return self.detail
        if self.has_positions:
            return "full"
        return "column" if self.fields else "none"

    @property
    def per_field(self) -> bool:
        """True when the postings carry per-field streams (``tfs_cols``
        / ``poss_cols``): a multi-field index stored above detail=none.
        Otherwise every index stores the single-field layout."""
        return bool(self.fields) and self.effective_detail() != "none"


# v2 postings are BLOCK-ADDRESSABLE: doc_ids gap encoding resets at every
# block boundary and per-block byte offsets for all three streams are
# stored alongside per-block first-doc_ids (block_min) — so pruned
# serving can decode ONLY the blocks whose doc-range intersects its
# candidate set (true block skipping), and block_max stays the BM25
# upper bound per block.
POSTINGS_OUT_SCHEMA = (
    "bucket int, term string, shard int, df long, cf long, n int, "
    "doc_ids binary, tfs binary, dls binary, block_max array<float>, "
    "block_min array<long>, offs_ids array<int>, offs_tfs array<int>, "
    "offs_dls array<int>"
)
# positions-enabled index: poss = per-doc token-position lists (0-based),
# delta+varint encoded, concatenated in doc order; segment lengths == tfs
POSTINGS_OUT_SCHEMA_POS = POSTINGS_OUT_SCHEMA + ", poss binary"
# multi-field index: tfs_cols[c] = varint stream of the term's tf WITHIN
# field c, aligned with doc_ids (zeros included — every stream has n
# entries); the top-level tfs stream stays the per-doc TOTAL, so the
# default full-colset scoring path decodes exactly like a single-field
# index. poss_cols[c] = field-relative positions, segment lengths =
# the per-doc values of tfs_cols[c].
#
# Weighted-MaxScore metadata (round-5): offs_tfs_cols[c] = per-block
# byte offsets into tfs_cols[c] (block grid shared with doc_ids), so the
# weighted pruned pass-2 block-skips the per-field streams exactly like
# the total stream; fub[c] = exact float64 max over the row's docs of
# idf·tfcomp(tf_c, dl) (the field's saturated max contribution, same
# layer-local stats convention as block_max); fmaxtf[c] = max tf_c.
# The term_ubs sidecar aggregates fub/fmaxtf per term (ub_cols /
# maxtf_cols) for query-time weighted upper bounds (wand.plan_pruned).
# Pre-upgrade mc indexes read NULL for all three → weighted pruning
# routes to the exact path, byte layouts of existing columns unchanged.
POSTINGS_OUT_SCHEMA_MC = POSTINGS_OUT_SCHEMA + (
    ", tfs_cols array<binary>, offs_tfs_cols array<array<int>>, "
    "fub array<double>, fmaxtf array<long>"
)
POSTINGS_OUT_SCHEMA_MC_POS = POSTINGS_OUT_SCHEMA_MC + ", poss_cols array<binary>"

# per-term sidecar: (a) MaxScore planning (operators/wand.py) reads the
# global df + BM25 upper bound; (b) it doubles as the sorted TERM
# DICTIONARY for prefix-query pruning — bucket tells the reader which
# hash-bucket partitions hold a resolved term, so `stem*` never sweeps
# the whole postings table (query.py:prefix_terms). Written
# range-partitioned and sorted by term: parquet row-group min/max stats
# prune a StartsWith pushdown to the matching files.
# ub_cols / maxtf_cols (multi-field indexes only, NULL otherwise):
# per-field saturated max contribution and max per-field tf, aggregated
# from the postings' fub / fmaxtf metadata — the inputs to the weighted
# MaxScore bound (wand.plan_pruned). Pre-upgrade sidecars read NULL and
# weighted pruning routes to the exact path.
TERM_UBS_SCHEMA = (
    "term string, df long, ub double, bucket int, "
    "ub_cols array<double>, maxtf_cols array<long>"
)


def postings_schema(meta: "IndexMeta") -> str:
    """The postings DDL string matching an index's meta — shared by the
    writer and every reader (explicit schemas keep empty dirs readable).
    A detail=none multi-field index stores the single-field layout (no
    per-field streams exist to store)."""
    if meta.per_field:
        return (
            POSTINGS_OUT_SCHEMA_MC_POS
            if meta.has_positions
            else POSTINGS_OUT_SCHEMA_MC
        )
    return POSTINGS_OUT_SCHEMA_POS if meta.has_positions else POSTINGS_OUT_SCHEMA


def _pair_fold(flat: np.ndarray, doc_idx: np.ndarray):
    """Vectorized (doc, term)-pair counting, the fold every SPIMI pass
    shares: factorize terms to int codes, STABLE lexsort by (doc, code)
    — within a pair the original token order (= ascending positions) is
    preserved — then boundary detection gives one slice per pair.

    Returns ``(terms, doc index, pair starts, pair ends, order)``: pair
    i holds the tokens ``order[starts[i]:ends[i]]``, so its tf is
    ``ends[i] - starts[i]``."""
    codes, uniq = pd.factorize(flat, sort=False)
    order = np.lexsort((codes, doc_idx))
    sc = codes[order]
    sd = doc_idx[order]
    change = np.flatnonzero((sc[1:] != sc[:-1]) | (sd[1:] != sd[:-1])) + 1
    pstarts = np.concatenate(([0], change))
    pends = np.concatenate((change, [len(order)]))
    terms = np.asarray(uniq, dtype=object)[sc[pstarts]]
    return terms, sd[pstarts], pstarts, pends, order


def _doc_index(lens: np.ndarray) -> np.ndarray:
    """Doc ordinal of every token of a flat token stream."""
    return np.repeat(np.arange(len(lens), dtype=np.int64), lens)


def _pair_positions(lens: np.ndarray, order, pstarts, pends) -> list:
    """Per-pair 0-based token positions within each doc (field-relative
    when ``lens`` are one field's lengths), reordered with the fold's
    stable sort → ascending per pair."""
    offs = np.repeat(np.cumsum(lens) - lens, lens)
    pos = (np.arange(int(lens.sum()), dtype=np.int64) - offs).astype(np.int32)[order]
    return [pos[a:b] for a, b in zip(pstarts, pends)]


def _spimi_batch(
    pdf: pd.DataFrame, analyzer: str, positions: bool, prefix: tuple
) -> pd.DataFrame:
    """One Arrow batch of :func:`spimi_term_freqs`: sentinel rows, then
    the folded (doc, term) pairs, then any ``prefix=`` marker rows."""
    # flat token stream + per-doc lengths: skips the per-doc list
    # objects AND the re-flattening concat (each measured as
    # expensive as tokenization itself on code batches)
    flat, lens = tokenize_flat(
        pdf["content"], analyzer, pdf["lang"] if "lang" in pdf else None
    )
    frames = []
    sent = pd.DataFrame(
        {
            "term": np.full(len(pdf), "", dtype=object),
            "doc_id": pdf["doc_id"].to_numpy(),
            "tf": np.zeros(len(pdf), dtype=np.int32),
            "dl": lens.astype("int32"),
        }
    )
    if positions:
        sent["positions"] = [[] for _ in range(len(pdf))]
    frames.append(sent)
    if int(lens.sum()):
        terms, didx, pstarts, pends, order = _pair_fold(flat, _doc_index(lens))
        run = pd.DataFrame(
            {
                "term": terms,
                "doc_id": pdf["doc_id"].to_numpy()[didx],
                "tf": (pends - pstarts).astype("int32"),
                "dl": lens[didx].astype("int32"),
            }
        )
        if positions:
            run["positions"] = _pair_positions(lens, order, pstarts, pends)
        frames.append(run)
        if prefix:
            extra = _derive_prefix_rows(run, prefix, positions, mc=False)
            if extra is not None:
                frames.append(extra)
    return pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]


def spimi_term_freqs(
    corpus: DataFrame,
    analyzer: str = "simple",
    use_lang: bool = False,
    positions: bool = False,
    prefix: tuple = (),
) -> DataFrame:
    """SPIMI local runs: (term, doc_id, tf, dl) with NO shuffle — term
    frequency is an intra-document statistic, computed per Arrow batch
    with the vectorized pair fold (:func:`_pair_fold`; the in-memory
    'single-pass in-memory indexing' run; the global merge is the later
    exchange).

    EVERY doc emits one sentinel run row ``(term='', tf=0, dl)``: the
    merge derives the doc_lengths table by FILTERING these rows — a
    narrow scan instead of a groupBy(doc_id) shuffle over the whole
    (term, doc) relation, which would otherwise be the build's
    largest-volume exchange. This also makes zero-token docs (null or
    punctuation-only content) count in N/avgdl — matching the exact
    path, the DuckDB oracle, and FTS5. The sentinel term '' can never
    collide with a real token (no analyzer emits empty strings) and is
    filtered out of df/postings in the merge."""
    validate_analyzer(analyzer)  # fail driver-side, not in an executor
    cols = ["doc_id", "content"] + (["lang"] if use_lang and "lang" in corpus.columns else [])
    narrow = corpus.select(*cols)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not pdf.empty:
                yield _spimi_batch(pdf, analyzer, positions, prefix)

    schema = TERM_FREQ_POS_SCHEMA if positions else TERM_FREQ_SCHEMA
    return narrow.mapInPandas(gen, schema)


def _spimi_batch_mc(
    pdf: pd.DataFrame,
    fields: list[str],
    analyzer: str,
    positions: bool,
    collapse: bool,
    prefix: tuple,
) -> pd.DataFrame:
    """One Arrow batch of :func:`spimi_term_freqs_mc`."""
    langs = pdf["lang"] if "lang" in pdf else None
    doc_ids = pdf["doc_id"].to_numpy()
    toks = [tokenize_flat(pdf[f], analyzer, langs) for f in fields]
    dls = np.sum([lens for _, lens in toks], axis=0).astype("int32")  # row totals
    sent = {"term": np.full(len(pdf), "", dtype=object), "doc_id": doc_ids}
    if not collapse:
        sent["col"] = np.zeros(len(pdf), dtype=np.int32)
    sent |= {"tf": np.zeros(len(pdf), dtype=np.int32), "dl": dls}
    frames = [pd.DataFrame(sent)]
    if positions:
        frames[0]["positions"] = [[] for _ in range(len(pdf))]
    streams = [(flat, lens, _doc_index(lens)) for flat, lens in toks]
    if collapse:
        # detail=none: a doc's tokens over all fields fold as ONE stream
        streams = [tuple(np.concatenate(x) for x in zip(*streams))]
    for ci, (flat, lens, didx_tok) in enumerate(streams):
        if not len(flat):
            continue
        terms, didx, pstarts, pends, order = _pair_fold(flat, didx_tok)
        run = {"term": terms, "doc_id": doc_ids[didx]}
        if not collapse:
            run["col"] = np.full(len(terms), ci, dtype=np.int32)
        run |= {"tf": (pends - pstarts).astype("int32"), "dl": dls[didx]}
        if positions:
            run["positions"] = _pair_positions(lens, order, pstarts, pends)
        frames.append(pd.DataFrame(run))
    out = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
    if prefix:
        # derive from the stored shape (per-field rows otherwise,
        # per-doc totals when collapsed); sentinels (len-0 term) never
        # match a length >= 1
        extra = _derive_prefix_rows(out, prefix, positions, mc=not collapse)
        if extra is not None:
            out = pd.concat([out, extra], ignore_index=True)
    return out


def spimi_term_freqs_mc(
    corpus: DataFrame,
    fields: list[str],
    analyzer: str = "simple",
    use_lang: bool = False,
    positions: bool = False,
    collapse: bool = False,
    prefix: tuple = (),
) -> DataFrame:
    """Multi-field SPIMI runs: one (term, doc_id, col, tf, dl) row per
    (doc, term, FIELD), still with no shuffle — each field's tokens go
    through the single-field pass's pair fold (:func:`_pair_fold`).
    ``dl`` is the doc's TOTAL token count over all indexed fields (FTS5's
    bm25 document length — the unweighted row total, pinned against
    SQLite); positions are FIELD-RELATIVE (reset at each field start),
    so '^' anchors to a field's first token and phrases/NEAR never span
    fields. One sentinel row per doc (term='', col=0) carries dl for the
    doc_lengths filter, exactly like the single-field pass.

    ``collapse=True`` (the ``detail=none`` storage level) folds every
    field's tokens of a doc together INSIDE the Arrow batch — per-doc
    totals, an intra-document statistic, so still zero shuffle — and
    returns the exact single-field SPIMI shape: every downstream stage
    (run-shuffle fold, merge, deltas, compaction) then runs the plain
    single-field machinery unchanged."""
    from sparkgrep.schema import TERM_FREQ_MC_POS_SCHEMA, TERM_FREQ_MC_SCHEMA

    if collapse and positions:
        raise ValueError("collapse (detail=none) stores no positions")
    validate_analyzer(analyzer)

    cols = ["doc_id"] + list(fields) + (
        ["lang"] if use_lang and "lang" in corpus.columns else []
    )
    narrow = corpus.select(*cols)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not pdf.empty:
                yield _spimi_batch_mc(pdf, fields, analyzer, positions, collapse, prefix)

    if collapse:
        return narrow.mapInPandas(gen, TERM_FREQ_SCHEMA)
    schema = TERM_FREQ_MC_POS_SCHEMA if positions else TERM_FREQ_MC_SCHEMA
    return narrow.mapInPandas(gen, schema)


def _block_offset_lists(
    cum: np.ndarray,
    g_start_rows: np.ndarray,
    g_end_rows: np.ndarray,
    bstart_rows: np.ndarray,
    bg: np.ndarray,
    nb_per_g: np.ndarray,
) -> list[np.ndarray]:
    """Per-group block byte-offset arrays (len nb+1 each: 0, block
    starts…, group total) from a whole-frame prefix-byte array ``cum``
    (cum[k] = encoded bytes before value k). Vectorized fill + one
    np.split — replaces a segment_byte_offsets call per group."""
    g_byte_start = cum[g_start_rows]
    nb1 = nb_per_g + 1
    slot0 = np.concatenate(([0], np.cumsum(nb1)[:-1]))
    out = np.zeros(int(nb1.sum()), dtype=np.int64)
    # within-group block ordinal of each block, vectorized
    cum_nb = np.concatenate(([0], np.cumsum(nb_per_g)[:-1]))
    ordinal = np.arange(len(bstart_rows), dtype=np.int64) - cum_nb[bg]
    out[slot0[bg] + ordinal] = cum[bstart_rows] - g_byte_start[bg]
    out[slot0 + nb_per_g] = cum[g_end_rows] - g_byte_start
    return _split_views(out.astype(np.int32), np.cumsum(nb1))


def _split_views(arr: np.ndarray, ends: np.ndarray) -> list[np.ndarray]:
    """Per-group views of a flat array (np.split pays a swapaxes per
    piece — a plain slice is ~10× cheaper at 10^5+ groups)."""
    out, prev = [], 0
    for e in ends:
        out.append(arr[prev:e])
        prev = e
    return out


def _group_byte_slices(
    stream: bytes, cum: np.ndarray, g_start_rows: np.ndarray, g_end_rows: np.ndarray
) -> list[bytes]:
    """Slice a whole-frame varint stream into per-group bytes (varints
    are stateless per value, so the concatenation of per-group encodes
    IS the whole-frame encode)."""
    mv = memoryview(stream)
    a = cum[g_start_rows]
    b = cum[g_end_rows]
    return [bytes(mv[int(x):int(y)]) for x, y in zip(a, b)]


class _Grid(NamedTuple):
    """The whole-frame pieces of :func:`_encode_doc_groups` that the
    per-field layout (:func:`_encode_groups_frame_mc`) extends."""

    gidx: np.ndarray  # group of each row
    bstart_rows: np.ndarray  # first row of each block
    bg: np.ndarray  # group of each block
    nb_per_g: np.ndarray  # blocks per group
    idfs: np.ndarray  # idf per group
    K: np.ndarray  # BM25 length normalisation per row


def _concat_positions(poscol) -> np.ndarray:
    return (
        np.concatenate([np.asarray(p, dtype=np.int64) for p in poscol])
        if len(poscol)
        else np.empty(0, dtype=np.int64)
    )


def _encode_groups_frame(meta: IndexMeta, pdf: pd.DataFrame, starts, ends) -> pd.DataFrame:
    """Encode the groups delimited by (starts, ends) in a sorted frame
    into one columnar output frame. Input must be sorted by
    (term, shard, doc_id); rows past ``ends[-1]`` (a group the caller
    carries into its next batch) are ignored.

    VECTORIZED ACROSS GROUPS: every stream (gap'd doc_ids, tfs, dls,
    positions) is varint-encoded in ONE whole-frame kernel call and
    sliced per group by prefix byte offsets; block maxima come from one
    ``np.maximum.reduceat``. The per-group-loop kernel this replaces
    (:func:`_encode_groups_frame_ref`, kept as the test oracle) paid
    ~300 µs of small-numpy-call overhead PER GROUP — cost proportional
    to vocabulary size, which is exactly what explodes on a long-tail
    corpus at scale (measured: 73% of build CPU at a 240k-term
    vocabulary). Output is byte-for-byte identical
    (tests/test_index.py::test_encode_kernel_matches_reference). The
    per-field layout runs this same kernel over its per-doc rows
    (:func:`_encode_groups_frame_mc`)."""
    return pd.DataFrame(_encode_doc_groups(meta, pdf, starts, ends)[0])


def _encode_doc_groups(meta: IndexMeta, pdf: pd.DataFrame, starts, ends) -> tuple[dict, _Grid]:
    """:func:`_encode_groups_frame`'s kernel: the output columns, plus
    the block grid, idfs and length norms it computed on the way."""
    from sparkgrep.operators.score import idf as idf_fn

    k1, b, avgdl, block = meta.k1, meta.b, meta.avgdl, meta.block_size
    terms = pdf["term"].to_numpy()
    shards = pdf["shard"].to_numpy()
    buckets = pdf["bucket"].to_numpy()
    dfs_in = pdf["df"].to_numpy(dtype=np.float64, na_value=np.nan)
    cfs_in = pdf["cf"].to_numpy(dtype=np.float64, na_value=np.nan)

    starts_a = np.asarray(starts, dtype=np.int64)
    ends_a = np.asarray(ends, dtype=np.int64)
    glen = ends_a - starts_a
    n = len(starts_a)
    # the caller may carry the frame's final (possibly incomplete) group
    # into the next batch — whole-frame kernels below must not see those
    # tail rows
    total = int(ends_a[-1]) if n else 0
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)[:total]
    tfs = pdf["tf"].to_numpy(dtype=np.int64)[:total]
    dls = pdf["dl"].to_numpy(dtype=np.int64)[:total]
    K = k1 * ((1.0 - b) + ((b * dls) / avgdl))
    tf_norm = (tfs * (k1 + 1.0)) / (tfs + K)
    gidx = np.repeat(np.arange(n, dtype=np.int64), glen)
    pos_in_g = np.arange(total, dtype=np.int64) - starts_a[gidx]

    # df/cf: pre-joined (broadcast) for HOT terms, counted locally for
    # cold groups (whole posting lists). Per-group Σtf via prefix sums.
    ctf = np.cumsum(tfs)
    gsum = ctf[ends_a - 1] - np.where(starts_a > 0, ctf[starts_a - 1], 0)
    d0, c0 = dfs_in[starts_a], cfs_in[starts_a]
    dfs_ = np.where(np.isnan(d0), glen, d0).astype(np.int64)
    cfs = np.where(np.isnan(c0), gsum, c0).astype(np.int64)

    # block grid: gap encoding resets at every block start (group heads
    # are block starts), so each block decodes independently
    is_bstart = (pos_in_g % block) == 0
    bstart_rows = np.flatnonzero(is_bstart)
    bg = gidx[bstart_rows]
    nb_per_g = (glen + block - 1) // block
    cum_nb = np.cumsum(nb_per_g)

    # doc_ids: blocked gap encode, whole frame at once
    d = np.empty(total, dtype=np.int64)
    if total:
        d[0] = ids[0]
        np.subtract(ids[1:], ids[:-1], out=d[1:])
        d[bstart_rows] = ids[bstart_rows]
    u_ids = d.astype(np.uint64)
    ids_stream = varint_encode(u_ids)
    cum_ids = np.concatenate(([0], np.cumsum(varint_byte_lengths(u_ids))))
    u_tfs = tfs.astype(np.uint64)
    tfs_stream = varint_encode(u_tfs)
    cum_tfs = np.concatenate(([0], np.cumsum(varint_byte_lengths(u_tfs))))
    u_dls = dls.astype(np.uint64)
    dls_stream = varint_encode(u_dls)
    cum_dls = np.concatenate(([0], np.cumsum(varint_byte_lengths(u_dls))))

    # block_max: idf per group (same scalar fn as the scorer — bitwise
    # parity with the serving path's bounds), contribution max per block
    idfs = np.fromiter(
        (idf_fn(meta.n_docs, int(v), meta.idf_variant) for v in dfs_),
        dtype=np.float64,
        count=n,
    )
    contrib = idfs[gidx] * tf_norm
    bm64 = np.maximum.reduceat(contrib, bstart_rows) if total else np.empty(0)
    # round UP to the next float32: block_max is consumed as an exact
    # upper bound by MaxScore pruning (wand.py)
    bm32 = bm64.astype(np.float32)
    low = bm32.astype(np.float64) < bm64
    bm32[low] = np.nextafter(bm32[low], np.float32(np.inf))

    out = {
        "bucket": buckets[starts_a].astype("int32"),
        "term": terms[starts_a],
        "shard": shards[starts_a].astype("int32"),
        "df": dfs_,
        "cf": cfs,
        "n": glen.astype("int32"),
        "doc_ids": _group_byte_slices(ids_stream, cum_ids, starts_a, ends_a),
        "tfs": _group_byte_slices(tfs_stream, cum_tfs, starts_a, ends_a),
        "dls": _group_byte_slices(dls_stream, cum_dls, starts_a, ends_a),
        "block_max": _split_views(bm32, cum_nb),
        "block_min": _split_views(ids[bstart_rows], cum_nb),
        "offs_ids": _block_offset_lists(cum_ids, starts_a, ends_a, bstart_rows, bg, nb_per_g),
        "offs_tfs": _block_offset_lists(cum_tfs, starts_a, ends_a, bstart_rows, bg, nb_per_g),
        "offs_dls": _block_offset_lists(cum_dls, starts_a, ends_a, bstart_rows, bg, nb_per_g),
    }
    if "positions" in pdf.columns:
        # positions: per-doc (= per-row) delta streams are independent,
        # so one whole-frame encode == the concatenation of per-group
        # encodes; slice per group at the byte offset of each row's
        # segment (row r holds tfs[r] position values)
        u_pos = segment_deltas(_concat_positions(pdf["positions"].to_numpy()[:total]), tfs)
        cum_pbytes = np.concatenate(([0], np.cumsum(varint_byte_lengths(u_pos))))
        row_byte = cum_pbytes[np.concatenate(([0], ctf))]
        out["poss"] = _group_byte_slices(varint_encode(u_pos), row_byte, starts_a, ends_a)
    return out, _Grid(gidx, bstart_rows, bg, nb_per_g, idfs, K)


def _encode_groups_frame_ref(meta: IndexMeta, pdf: pd.DataFrame, starts, ends) -> pd.DataFrame:
    """REFERENCE kernel (pre-vectorization): per-group loop over the
    same primitives. Kept as the test oracle for
    :func:`_encode_groups_frame` — byte-for-byte equality is asserted on
    randomized frames; not used in the build path."""
    from sparkgrep.operators.score import idf as idf_fn

    k1, b, avgdl, block = meta.k1, meta.b, meta.avgdl, meta.block_size
    terms = pdf["term"].to_numpy()
    shards = pdf["shard"].to_numpy()
    buckets = pdf["bucket"].to_numpy()
    # df/cf are only pre-joined (broadcast) for HOT terms; cold groups —
    # whole posting lists — count themselves here. float64 carries the
    # nulls; counts are exact well past 2^32.
    dfs_in = pdf["df"].to_numpy(dtype=np.float64, na_value=np.nan)
    cfs_in = pdf["cf"].to_numpy(dtype=np.float64, na_value=np.nan)
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    tfs = pdf["tf"].to_numpy(dtype=np.int64)
    dls = pdf["dl"].to_numpy(dtype=np.int64)
    # per-posting contributions for block_max, vectorized over the whole
    # frame at once (idf multiplied in per group below)
    tf_norm = (tfs * (k1 + 1.0)) / (tfs + (k1 * ((1.0 - b) + ((b * dls) / avgdl))))

    has_pos = "positions" in pdf.columns
    poscol = pdf["positions"].to_numpy() if has_pos else None

    starts_a = np.asarray(starts, dtype=np.int64)
    ends_a = np.asarray(ends, dtype=np.int64)
    glen = ends_a - starts_a
    # per-group Σtf via prefix sums (reduceat would swallow carry rows)
    ctf = np.cumsum(tfs)
    gsum = ctf[ends_a - 1] - np.where(starts_a > 0, ctf[starts_a - 1], 0)
    d0, c0 = dfs_in[starts_a], cfs_in[starts_a]
    dfs_ = np.where(np.isnan(d0), glen, d0).astype(np.int64)
    cfs = np.where(np.isnan(c0), gsum, c0).astype(np.int64)

    n = len(starts)
    out = {
        "bucket": buckets[starts].astype("int32"),
        "term": terms[starts],
        "shard": shards[starts].astype("int32"),
        "df": dfs_,
        "cf": cfs,
        "n": glen.astype("int32"),
        "doc_ids": [None] * n,
        "tfs": [None] * n,
        "dls": [None] * n,
        "block_max": [None] * n,
    }
    out["block_min"] = [None] * n
    out["offs_ids"] = [None] * n
    out["offs_tfs"] = [None] * n
    out["offs_dls"] = [None] * n
    if has_pos:
        out["poss"] = [None] * n
    n_docs, variant = meta.n_docs, meta.idf_variant
    for gi, (s, e) in enumerate(zip(starts, ends)):
        g_ids = ids[s:e]
        g_tfs = tfs[s:e].astype(np.uint64)
        g_dls = dls[s:e].astype(np.uint64)
        nb = (len(g_ids) + block - 1) // block
        counts = np.full(nb, block, dtype=np.int64)
        counts[-1] = len(g_ids) - block * (nb - 1)
        out["doc_ids"][gi], offs_ids = blocked_gap_encode(g_ids, block)
        out["tfs"][gi] = varint_encode(g_tfs)
        out["dls"][gi] = varint_encode(g_dls)
        out["block_min"][gi] = g_ids[::block].astype(np.int64)
        out["offs_ids"][gi] = offs_ids.astype(np.int32)
        out["offs_tfs"][gi] = segment_byte_offsets(g_tfs, counts).astype(np.int32)
        out["offs_dls"][gi] = segment_byte_offsets(g_dls, counts).astype(np.int32)
        if has_pos:
            flat = (
                np.concatenate([np.asarray(p, dtype=np.int64) for p in poscol[s:e]])
                if e > s
                else np.empty(0, dtype=np.int64)
            )
            out["poss"][gi] = delta_encode_segments(flat, tfs[s:e])
        idf = idf_fn(n_docs, int(dfs_[gi]), variant)
        contrib = idf * tf_norm[s:e]
        nblocks = (len(g_ids) + block - 1) // block
        pad = nblocks * block - len(g_ids)
        bm = np.pad(contrib, (0, pad), constant_values=-np.inf).reshape(nblocks, block)
        # round UP to the next float32: block_max is consumed as an exact
        # upper bound by MaxScore pruning (wand.py), and a down-rounding
        # float64→float32 cast would make it unsound at score boundaries
        bm64 = bm.max(axis=1)
        bm32 = bm64.astype(np.float32)
        low = bm32.astype(np.float64) < bm64
        bm32[low] = np.nextafter(bm32[low], np.float32(np.inf))
        out["block_max"][gi] = bm32
    return pd.DataFrame(out)


def _encode_groups_frame_mc(
    meta: IndexMeta, pdf: pd.DataFrame, starts, ends
) -> pd.DataFrame:
    """The per-field layout's extension of :func:`_encode_groups_frame`:
    input rows are per (doc, FIELD) — sorted by (term, shard, doc_id,
    col) — and each output row collapses them to per-doc streams: the
    total-tf stream (identical layout to a single-field index, so the
    default full-colset scoring path is unchanged) plus one per-field tf
    stream and, with positions, one field-relative position stream per
    field. df counts UNIQUE docs (a doc's several field rows are one
    posting); block_max bounds the total-tf (weight-1 full-colset)
    contribution.

    WHOLE-FRAME, like its base: one boundary mask collapses the rows to
    per-doc rows (a doc change and every group start are both
    boundaries — one doc can end group g and start group g+1), the
    single-field kernel encodes ids, total tf, dls, block_max, block_min
    and the three offset lists, and each per-field stream, offset list
    or fub/fmaxtf maximum is one more whole-frame varint encode or
    ``np.maximum.reduceat``, sliced per group. Byte-for-byte equal to
    the per-group loop it replaces (:func:`_encode_groups_frame_mc_ref`,
    kept as the test oracle)."""
    nf, k1 = len(meta.fields), meta.k1
    starts_a = np.asarray(starts, dtype=np.int64)
    ends_a = np.asarray(ends, dtype=np.int64)
    total = int(ends_a[-1]) if len(ends_a) else 0
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)[:total]
    fcols = pdf["col"].to_numpy(dtype=np.int64)[:total]
    tfs = pdf["tf"].to_numpy(dtype=np.int64)[:total]
    is_doc = np.ones(total, dtype=bool)
    np.not_equal(ids[1:], ids[:-1], out=is_doc[1:])
    is_doc[starts_a] = True
    drow = np.flatnonzero(is_doc)  # first row of each (group, doc)
    dix = np.cumsum(is_doc) - 1  # per-doc ordinal of each row
    tfc = np.zeros((len(drow), nf), dtype=np.int64)
    tfc[dix, fcols] = tfs
    dstart = dix[starts_a]
    dend = dix[ends_a - 1] + 1
    docs = pd.DataFrame(
        {
            "term": pdf["term"].to_numpy()[drow],
            "shard": pdf["shard"].to_numpy()[drow],
            "bucket": pdf["bucket"].to_numpy()[drow],
            "df": pdf["df"].to_numpy(dtype=np.float64, na_value=np.nan)[drow],
            "cf": pdf["cf"].to_numpy(dtype=np.float64, na_value=np.nan)[drow],
            "doc_id": ids[drow],
            "tf": tfc.sum(axis=1),
            "dl": pdf["dl"].to_numpy(dtype=np.int64)[drow],
        }
    )
    out, g = _encode_doc_groups(meta, docs, dstart, dend)

    def per_group(per_field: list[list]) -> list[list]:
        return [list(x) for x in zip(*per_field)]

    tfs_cols, offs_cols = [], []
    for c in range(nf):
        u = tfc[:, c].astype(np.uint64)
        cum = np.concatenate(([0], np.cumsum(varint_byte_lengths(u))))
        tfs_cols.append(_group_byte_slices(varint_encode(u), cum, dstart, dend))
        offs_cols.append(
            _block_offset_lists(cum, dstart, dend, g.bstart_rows, g.bg, g.nb_per_g)
        )
    out["tfs_cols"] = per_group(tfs_cols)
    out["offs_tfs_cols"] = per_group(offs_cols)
    # weighted-MaxScore metadata: per-field saturated max contribution
    # (exact float64 — no rounding needed, it's row metadata) and max
    # per-field tf; tfcomp saturation is monotone in tf, so zero-tf
    # entries contribute 0 and never raise the max
    fc = g.idfs[g.gidx][:, None] * (tfc * (k1 + 1.0)) / (tfc + g.K[:, None])
    out["fub"] = list(np.maximum.reduceat(fc, dstart, axis=0))
    out["fmaxtf"] = list(np.maximum.reduceat(tfc, dstart, axis=0))
    if "positions" in pdf.columns:
        # field-relative positions: each (doc, field) row's delta segment
        # is independent, so field c's stream is the whole-frame deltas
        # restricted to field-c rows, sliced per group at row byte offsets
        u_pos = segment_deltas(_concat_positions(pdf["positions"].to_numpy()[:total]), tfs)
        cum_v = np.concatenate(([0], np.cumsum(varint_byte_lengths(u_pos))))
        row_bytes = np.diff(cum_v[np.concatenate(([0], np.cumsum(tfs)))])
        val_col = np.repeat(fcols, tfs)
        streams = []
        for c in range(nf):
            cum_r = np.concatenate(([0], np.cumsum(np.where(fcols == c, row_bytes, 0))))
            streams.append(
                _group_byte_slices(varint_encode(u_pos[val_col == c]), cum_r, starts_a, ends_a)
            )
        out["poss_cols"] = per_group(streams)
    return pd.DataFrame(out)


def _encode_groups_frame_mc_ref(
    meta: IndexMeta, pdf: pd.DataFrame, starts, ends
) -> pd.DataFrame:
    """REFERENCE kernel for the per-field layout (per-group loop over
    the same primitives). Kept as the test oracle for
    :func:`_encode_groups_frame_mc` — byte-for-byte equality is asserted
    on randomized frames; not used in the build path."""
    from sparkgrep.operators.score import idf as idf_fn

    n_fields = len(meta.fields)
    k1, b, avgdl, block = meta.k1, meta.b, meta.avgdl, meta.block_size
    terms = pdf["term"].to_numpy()
    shards = pdf["shard"].to_numpy()
    buckets = pdf["bucket"].to_numpy()
    dfs_in = pdf["df"].to_numpy(dtype=np.float64, na_value=np.nan)
    cfs_in = pdf["cf"].to_numpy(dtype=np.float64, na_value=np.nan)
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    fcols = pdf["col"].to_numpy(dtype=np.int64)
    tfs = pdf["tf"].to_numpy(dtype=np.int64)
    dls = pdf["dl"].to_numpy(dtype=np.int64)
    has_pos = "positions" in pdf.columns
    poscol = pdf["positions"].to_numpy() if has_pos else None

    n = len(starts)
    out = {
        "bucket": buckets[np.asarray(starts, dtype=np.int64)].astype("int32"),
        "term": terms[np.asarray(starts, dtype=np.int64)],
        "shard": shards[np.asarray(starts, dtype=np.int64)].astype("int32"),
        "df": np.zeros(n, dtype=np.int64),
        "cf": np.zeros(n, dtype=np.int64),
        "n": np.zeros(n, dtype=np.int32),
        "doc_ids": [None] * n,
        "tfs": [None] * n,
        "dls": [None] * n,
        "block_max": [None] * n,
        "block_min": [None] * n,
        "offs_ids": [None] * n,
        "offs_tfs": [None] * n,
        "offs_dls": [None] * n,
        "tfs_cols": [None] * n,
        "offs_tfs_cols": [None] * n,
        "fub": [None] * n,
        "fmaxtf": [None] * n,
    }
    if has_pos:
        out["poss_cols"] = [None] * n
    n_docs, variant = meta.n_docs, meta.idf_variant
    for gi, (s, e) in enumerate(zip(starts, ends)):
        g_ids_all = ids[s:e]
        g_cols = fcols[s:e]
        g_tfs_all = tfs[s:e]
        # collapse (doc, field) rows to unique docs (input doc-sorted)
        change = np.flatnonzero(g_ids_all[1:] != g_ids_all[:-1]) + 1
        doc_starts = np.concatenate(([0], change))
        counts_per_doc = np.diff(np.concatenate((doc_starts, [e - s])))
        doc_idx = np.repeat(
            np.arange(len(doc_starts), dtype=np.int64), counts_per_doc
        )
        g_ids = g_ids_all[doc_starts]
        g_dls = dls[s:e][doc_starts].astype(np.uint64)
        tfc = np.zeros((len(g_ids), n_fields), dtype=np.int64)
        tfc[doc_idx, g_cols] = g_tfs_all
        tf_tot = tfc.sum(axis=1)
        d0, c0 = dfs_in[s], cfs_in[s]
        df_g = int(d0) if not np.isnan(d0) else len(g_ids)
        cf_g = int(c0) if not np.isnan(c0) else int(tf_tot.sum())
        out["df"][gi], out["cf"][gi], out["n"][gi] = df_g, cf_g, len(g_ids)
        nb = (len(g_ids) + block - 1) // block
        counts = np.full(nb, block, dtype=np.int64)
        counts[-1] = len(g_ids) - block * (nb - 1)
        out["doc_ids"][gi], offs_ids = blocked_gap_encode(g_ids, block)
        out["tfs"][gi] = varint_encode(tf_tot.astype(np.uint64))
        out["dls"][gi] = varint_encode(g_dls)
        out["block_min"][gi] = g_ids[::block].astype(np.int64)
        out["offs_ids"][gi] = offs_ids.astype(np.int32)
        out["offs_tfs"][gi] = segment_byte_offsets(
            tf_tot.astype(np.uint64), counts
        ).astype(np.int32)
        out["offs_dls"][gi] = segment_byte_offsets(g_dls, counts).astype(np.int32)
        out["tfs_cols"][gi] = [
            varint_encode(tfc[:, c].astype(np.uint64)) for c in range(n_fields)
        ]
        out["offs_tfs_cols"][gi] = [
            segment_byte_offsets(tfc[:, c].astype(np.uint64), counts).astype(
                np.int32
            )
            for c in range(n_fields)
        ]
        if has_pos:
            streams = []
            for c in range(n_fields):
                sel = np.flatnonzero(g_cols == c)  # doc-ordered already
                flat = (
                    np.concatenate(
                        [np.asarray(poscol[s + j], dtype=np.int64) for j in sel]
                    )
                    if sel.size
                    else np.empty(0, dtype=np.int64)
                )
                streams.append(delta_encode_segments(flat, tfc[:, c]))
            out["poss_cols"][gi] = streams
        idf = idf_fn(n_docs, df_g, variant)
        K = k1 * ((1.0 - b) + ((b * g_dls.astype(np.float64)) / avgdl))
        tf_norm = (tf_tot * (k1 + 1.0)) / (tf_tot + K)
        contrib = idf * tf_norm
        pad = nb * block - len(g_ids)
        bm = np.pad(contrib, (0, pad), constant_values=-np.inf).reshape(nb, block)
        bm64 = bm.max(axis=1)
        bm32 = bm64.astype(np.float32)
        low = bm32.astype(np.float64) < bm64
        bm32[low] = np.nextafter(bm32[low], np.float32(np.inf))
        out["block_max"][gi] = bm32
        # weighted-MaxScore metadata: per-field saturated max contribution
        # (exact float64 — no rounding needed, it's row metadata) and max
        # per-field tf; tfcomp saturation is monotone in tf, so zero-tf
        # entries contribute 0 and never raise the max
        fc = idf * (tfc * (k1 + 1.0)) / (tfc + K[:, None])
        out["fub"][gi] = fc.max(axis=0) if len(g_ids) else np.zeros(n_fields)
        out["fmaxtf"][gi] = (
            tfc.max(axis=0).astype(np.int64)
            if len(g_ids)
            else np.zeros(n_fields, dtype=np.int64)
        )
    return pd.DataFrame(out)


def group_encoder(meta: IndexMeta):
    """The group encoder of an index's postings layout: per-(doc, field)
    SPIMI rows → :func:`_encode_groups_frame_mc` on the per-field
    layout, per-doc rows → :func:`_encode_groups_frame` otherwise."""
    return _encode_groups_frame_mc if meta.per_field else _encode_groups_frame


def _make_partition_encoder(meta: IndexMeta):
    """Streaming partition encoder for ``mapInPandas`` over input
    repartitioned by (term, shard) and sorted within partitions by
    (term, shard, doc_id).

    Encodes MANY groups per Arrow batch (numpy boundary detection) —
    unlike per-group applyInPandas, whose per-group invocation overhead
    dominates when the vocabulary is large (hundreds of thousands of
    tiny posting lists). A group can straddle Arrow batches, so each
    batch's final (possibly incomplete) group is carried into the next
    batch; the last group flushes at end of partition.
    """
    frame_fn = group_encoder(meta)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if pdf.empty:
                continue
            terms = pdf["term"].to_numpy()
            shards = pdf["shard"].to_numpy()
            change = np.flatnonzero(
                (terms[1:] != terms[:-1]) | (shards[1:] != shards[:-1])
            ) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(pdf)]))
            # hold back the final group — it may continue in the next batch
            if len(starts) == 1:
                carry = pdf
                continue
            carry = pdf.iloc[starts[-1]:]
            yield frame_fn(meta, pdf, starts[:-1], ends[:-1])
        if carry is not None and not carry.empty:
            yield frame_fn(meta, carry.reset_index(drop=True), [0], [len(carry)])

    return encode


# transient SPIMI-run rows shuffled by the merge (run-shuffle path): one
# row per (term, shard) per accumulation window — postings ride as plain
# delta-varint streams (~3-6 bytes each) instead of raw unsafe rows
# (~50 bytes each incl. the repeated term string), so the build's one
# full-width exchange ships ~6× fewer bytes and ~10× fewer rows
RUNS_SCHEMA = (
    "term string, shard int, bucket int, df double, cf double, n int, "
    "ids binary, tfs binary, dls binary"
)


def _spimi_run_encoder(
    hot: dict,
    n_buckets: int,
    postings_per_shard: int,
    acc_rows: int = 1 << 17,
):
    """mapInPandas generator over the persisted SPIMI relation (term !=
    '' rows): accumulates ~acc_rows posting rows, groups them by
    (term, shard) and emits varint-encoded RUN rows — the true SPIMI
    'write sorted per-partition runs' step, done before the exchange so
    the shuffle carries encoded streams, not raw postings.

    ``hot`` maps the few terms with df > postings_per_shard to their
    global (df, cf): their postings hash across ceil(df/pps) shards via
    the SAME xxhash64(doc_id) Spark's raw-row path used (python mirror,
    bit-compatible — tests/test_xxhash.py), and their runs carry the
    global df/cf so merge groups that see only a slice never count
    locally. Cold runs carry NaN → the encode kernel counts the (whole)
    group, exactly like the broadcast-join path."""
    from sparkgrep.functions.xxhash import term_bucket, xxhash64_long_vec

    hot_df = {t: float(v[0]) for t, v in hot.items()}
    hot_cf = {t: float(v[1]) for t, v in hot.items()}
    hot_ns = {
        t: int(-(-v[0] // postings_per_shard)) for t, v in hot.items()
    }
    bucket_cache: dict[str, int] = {}

    def _bucket(t: str) -> int:
        b = bucket_cache.get(t)
        if b is None:
            b = bucket_cache[t] = term_bucket(t, n_buckets)
        return b

    def encode_window(pdf: pd.DataFrame) -> pd.DataFrame:
        tser = pdf["term"]
        ids_raw = pdf["doc_id"].to_numpy(np.int64)
        nsh = tser.map(hot_ns).fillna(1.0).to_numpy(np.float64)
        shard = np.zeros(len(pdf), dtype=np.int64)
        multi = nsh > 1.0
        if multi.any():
            h = xxhash64_long_vec(ids_raw[multi])
            shard[multi] = np.mod(h, nsh[multi].astype(np.int64))
        # sort by int term CODES, not strings: group order within a
        # window is irrelevant (the merge re-sorts globally); only
        # within-run doc order matters for the delta encoding — and
        # object-key lexsort costs python comparisons per element
        codes, _uniq = pd.factorize(tser, sort=False)
        order = np.lexsort((ids_raw, shard, codes))
        terms = tser.to_numpy()[order]
        shards = shard[order]
        ids = ids_raw[order]
        tfs = pdf["tf"].to_numpy(np.int64)[order]
        dls = pdf["dl"].to_numpy(np.int64)[order]
        scodes = codes[order]
        change = (
            np.flatnonzero((scodes[1:] != scodes[:-1]) | (shards[1:] != shards[:-1]))
            + 1
        )
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [len(pdf)]))
        glen = ends - starts
        # delta varint, reset at run heads (runs internally doc-sorted)
        d = np.empty(len(ids), dtype=np.int64)
        d[0] = ids[0]
        np.subtract(ids[1:], ids[:-1], out=d[1:])
        d[starts] = ids[starts]
        u = d.astype(np.uint64)
        ids_stream = varint_encode(u)
        cum_ids = np.concatenate(([0], np.cumsum(varint_byte_lengths(u))))
        u_tfs = tfs.astype(np.uint64)
        tfs_stream = varint_encode(u_tfs)
        cum_tfs = np.concatenate(([0], np.cumsum(varint_byte_lengths(u_tfs))))
        u_dls = dls.astype(np.uint64)
        dls_stream = varint_encode(u_dls)
        cum_dls = np.concatenate(([0], np.cumsum(varint_byte_lengths(u_dls))))
        gterms = terms[starts]
        return pd.DataFrame(
            {
                "term": gterms,
                "shard": shards[starts].astype(np.int32),
                "bucket": np.fromiter(
                    (_bucket(t) for t in gterms), dtype=np.int32, count=len(gterms)
                ),
                "df": pd.Series(gterms).map(hot_df).to_numpy(
                    dtype=np.float64, na_value=np.nan
                ),
                "cf": pd.Series(gterms).map(hot_cf).to_numpy(
                    dtype=np.float64, na_value=np.nan
                ),
                "n": glen.astype(np.int32),
                "ids": _group_byte_slices(ids_stream, cum_ids, starts, ends),
                "tfs": _group_byte_slices(tfs_stream, cum_tfs, starts, ends),
                "dls": _group_byte_slices(dls_stream, cum_dls, starts, ends),
            }
        )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: list[pd.DataFrame] = []
        nrows = 0
        for pdf in batches:
            if pdf.empty:
                continue
            buf.append(pdf)
            nrows += len(pdf)
            if nrows >= acc_rows:
                yield encode_window(pd.concat(buf, ignore_index=True))
                buf, nrows = [], 0
        if buf:
            yield encode_window(
                pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
            )

    return gen


def _decode_runs_encode_groups(meta: IndexMeta, runs: pd.DataFrame) -> pd.DataFrame:
    """Decode a frame of COMPLETE (term, shard) groups' runs back to
    posting arrays, merge-sort by doc_id within each group, and hand the
    result to the SAME :func:`_encode_groups_frame` kernel the raw-row
    path uses — so the written postings are byte-for-byte independent of
    which shuffle format carried them
    (tests/test_index.py::test_run_shuffle_build_identical)."""
    ns = runs["n"].to_numpy(np.int64)
    total = int(ns.sum())
    ids = delta_decode_segments(b"".join(runs["ids"]), ns).astype(np.int64)
    tfs = varint_decode(b"".join(runs["tfs"])).astype(np.int64)
    dls = varint_decode(b"".join(runs["dls"])).astype(np.int64)
    rterms = runs["term"].to_numpy()
    rshards = runs["shard"].to_numpy()
    rchange = (
        np.flatnonzero((rterms[1:] != rterms[:-1]) | (rshards[1:] != rshards[:-1]))
        + 1
    )
    rstarts = np.concatenate(([0], rchange))
    rgi = np.zeros(len(runs), dtype=np.int64)
    rgi[rstarts[1:]] = 1
    rgi = np.cumsum(rgi)  # group id per RUN row
    gidx = np.repeat(rgi, ns)  # group id per posting
    order = np.lexsort((ids, gidx))
    glen = np.bincount(rgi, weights=ns).astype(np.int64)
    ends_a = np.cumsum(glen)
    starts_a = ends_a - glen
    # group-level attributes: _encode_groups_frame reads term/shard/
    # bucket/df/cf ONLY at group starts — fill just those slots instead
    # of materializing 10^6-element object columns
    terms_full = np.empty(total, dtype=object)
    shards_full = np.zeros(total, dtype=np.int32)
    buckets_full = np.zeros(total, dtype=np.int32)
    dfs_full = np.full(total, np.nan)
    cfs_full = np.full(total, np.nan)
    terms_full[starts_a] = rterms[rstarts]
    shards_full[starts_a] = rshards[rstarts]
    buckets_full[starts_a] = runs["bucket"].to_numpy()[rstarts]
    dfs_full[starts_a] = runs["df"].to_numpy(dtype=np.float64, na_value=np.nan)[rstarts]
    cfs_full[starts_a] = runs["cf"].to_numpy(dtype=np.float64, na_value=np.nan)[rstarts]
    pdf = pd.DataFrame(
        {
            "term": terms_full,
            "shard": shards_full,
            "bucket": buckets_full,
            "df": dfs_full,
            "cf": cfs_full,
            "doc_id": ids[order],
            "tf": tfs[order],
            "dl": dls[order],
        }
    )
    return _encode_groups_frame(meta, pdf, starts_a, ends_a)


def _make_run_merge_encoder(meta: IndexMeta):
    """Streaming merge for ``mapInPandas`` over RUN rows repartitioned by
    (term, shard) and sorted within partitions by (term, shard): decodes
    each complete group's runs and re-encodes through the shared kernel,
    carrying the final (possibly incomplete) group across Arrow
    batches."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if pdf.empty:
                continue
            terms = pdf["term"].to_numpy()
            shards = pdf["shard"].to_numpy()
            change = np.flatnonzero(
                (terms[1:] != terms[:-1]) | (shards[1:] != shards[:-1])
            ) + 1
            if len(change) == 0:
                carry = pdf
                continue
            last_start = int(change[-1])
            carry = pdf.iloc[last_start:]
            yield _decode_runs_encode_groups(
                meta, pdf.iloc[:last_start].reset_index(drop=True)
            )
        if carry is not None and not carry.empty:
            yield _decode_runs_encode_groups(meta, carry.reset_index(drop=True))

    return gen


# shard-less run rows from the FUSED single-pass SPIMI encoder: the one
# tokenize pass emits encoded runs directly (no raw (term, doc) rows ever
# materialize), sentinel runs (term='') carry each batch's doc lengths,
# and sum_tf lets the df/cf aggregate run over RUN rows without decoding
RUNS0_SCHEMA = (
    "term string, bucket int, n int, sum_tf long, "
    "ids binary, tfs binary, dls binary"
)


def _spimi_fused_run_encoder(
    analyzer: str, use_lang: bool, n_buckets: int, prefix: tuple = ()
):
    """ONE mapInPandas pass: tokenize → vectorized (doc, term)-pair
    counting → shard-less varint RUN rows (RUNS0_SCHEMA). Fusing SPIMI
    and run encoding means the raw posting relation (one ~50-byte row
    per (doc, term)) never exists: nothing caches it, nothing
    Arrow-serializes it, and the exchange downstream ships only encoded
    streams. Per batch also emits ONE sentinel run (term='') holding the
    batch's (doc_id, dl) pairs for the doc_lengths table."""
    from sparkgrep.functions.xxhash import term_bucket

    bucket_cache: dict[str, int] = {}

    def _bucket(t: str) -> int:
        bk = bucket_cache.get(t)
        if bk is None:
            bk = bucket_cache[t] = term_bucket(t, n_buckets)
        return bk

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            flat, lens = tokenize_flat(
                pdf["content"], analyzer, pdf["lang"] if "lang" in pdf else None
            )
            ndocs = len(pdf)
            doc_ids_b = pdf["doc_id"].to_numpy(np.int64)
            # sentinel run: every doc's length, ids ascending (delta codec)
            sorder = np.argsort(doc_ids_b)
            s_ids = doc_ids_b[sorder]
            d = np.empty(ndocs, dtype=np.int64)
            d[0] = s_ids[0]
            np.subtract(s_ids[1:], s_ids[:-1], out=d[1:])
            frames = [
                pd.DataFrame(
                    {
                        "term": [""],
                        "bucket": np.zeros(1, dtype=np.int32),
                        "n": np.array([ndocs], dtype=np.int32),
                        "sum_tf": np.zeros(1, dtype=np.int64),
                        "ids": [varint_encode(d.astype(np.uint64))],
                        "tfs": [b""],
                        "dls": [varint_encode(lens[sorder].astype(np.uint64))],
                    }
                )
            ]
            total = int(lens.sum())
            if total:
                doc_idx = np.repeat(np.arange(ndocs, dtype=np.int64), lens)
                codes, uniq = pd.factorize(flat, sort=False)
                # pair extraction: one combined-key sort (order within a
                # pair is irrelevant — only the count survives)
                key = codes.astype(np.int64) * ndocs + doc_idx
                korder = np.argsort(key)
                sk = key[korder]
                change = np.flatnonzero(sk[1:] != sk[:-1]) + 1
                pstarts = np.concatenate(([0], change))
                pends = np.concatenate((change, [total]))
                p_code = codes[korder[pstarts]]
                p_didx = doc_idx[korder[pstarts]]
                p_tf = (pends - pstarts).astype(np.int64)
                if prefix:
                    p_code, uniq, p_didx, p_tf = _extend_pairs_with_prefixes(
                        uniq, p_code, p_didx, p_tf, ndocs, prefix
                    )
                p_id = doc_ids_b[p_didx]
                p_dl = lens[p_didx]
                # runs = pairs grouped by term, doc_ids ASCENDING within
                # (the delta codec's requirement — batch doc order is
                # arbitrary after a repartition, so sort by real doc_id)
                porder = np.lexsort((p_id, p_code))
                c = p_code[porder]
                ids = p_id[porder]
                tfs = p_tf[porder]
                dls = p_dl[porder]
                rchange = np.flatnonzero(c[1:] != c[:-1]) + 1
                rstarts = np.concatenate(([0], rchange))
                rends = np.concatenate((rchange, [len(ids)]))
                glen = rends - rstarts
                dd = np.empty(len(ids), dtype=np.int64)
                dd[0] = ids[0]
                np.subtract(ids[1:], ids[:-1], out=dd[1:])
                dd[rstarts] = ids[rstarts]
                u = dd.astype(np.uint64)
                ids_stream = varint_encode(u)
                cum_ids = np.concatenate(([0], np.cumsum(varint_byte_lengths(u))))
                u_tfs = tfs.astype(np.uint64)
                tfs_stream = varint_encode(u_tfs)
                cum_tfs = np.concatenate(
                    ([0], np.cumsum(varint_byte_lengths(u_tfs)))
                )
                u_dls = dls.astype(np.uint64)
                dls_stream = varint_encode(u_dls)
                cum_dls = np.concatenate(
                    ([0], np.cumsum(varint_byte_lengths(u_dls)))
                )
                ctf = np.cumsum(tfs)
                sum_tf = ctf[rends - 1] - np.where(rstarts > 0, ctf[rstarts - 1], 0)
                uniq_arr = np.asarray(uniq, dtype=object)
                gterms = uniq_arr[c[rstarts]]
                frames.append(
                    pd.DataFrame(
                        {
                            "term": gterms,
                            "bucket": np.fromiter(
                                (_bucket(t) for t in gterms),
                                dtype=np.int32,
                                count=len(gterms),
                            ),
                            "n": glen.astype(np.int32),
                            "sum_tf": sum_tf.astype(np.int64),
                            "ids": _group_byte_slices(ids_stream, cum_ids, rstarts, rends),
                            "tfs": _group_byte_slices(tfs_stream, cum_tfs, rstarts, rends),
                            "dls": _group_byte_slices(dls_stream, cum_dls, rstarts, rends),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]

    return gen


def _decode_doc_lens(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Sentinel runs → (doc_id, dl) rows (narrow; each doc appears in
    exactly one batch's sentinel run)."""
    for pdf in batches:
        if pdf.empty:
            continue
        ns = pdf["n"].to_numpy(np.int64)
        ids = delta_decode_segments(b"".join(pdf["ids"]), ns).astype(np.int64)
        dls = varint_decode(b"".join(pdf["dls"])).astype(np.int32)
        yield pd.DataFrame({"doc_id": ids, "dl": dls})


def _assign_shards_gen(hot: dict, postings_per_shard: int):
    """Narrow pass over shard-less runs: COLD runs (the overwhelming
    majority) pass through undecoded with shard 0 and NaN df/cf; the few
    HOT-term runs are decoded, split by the bit-compatible
    xxhash64(doc_id) shard hash, and re-encoded as per-shard runs
    carrying the global df/cf."""
    from sparkgrep.functions.xxhash import xxhash64_long_vec

    hot_df = {t: float(v[0]) for t, v in hot.items()}
    hot_cf = {t: float(v[1]) for t, v in hot.items()}
    hot_ns = {t: int(-(-v[0] // postings_per_shard)) for t, v in hot.items()}

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            is_hot = pdf["term"].isin(hot_ns).to_numpy()
            cold = pdf.loc[~is_hot]
            out = pd.DataFrame(
                {
                    "term": cold["term"].to_numpy(),
                    "shard": np.zeros(len(cold), dtype=np.int32),
                    "bucket": cold["bucket"].to_numpy(),
                    "df": np.full(len(cold), np.nan),
                    "cf": np.full(len(cold), np.nan),
                    "n": cold["n"].to_numpy(),
                    "ids": cold["ids"].to_numpy(),
                    "tfs": cold["tfs"].to_numpy(),
                    "dls": cold["dls"].to_numpy(),
                }
            )
            frames = [out]
            if is_hot.any():
                hp = pdf.loc[is_hot]
                rows: dict[str, list] = {
                    k: [] for k in ("term", "shard", "bucket", "df", "cf", "n", "ids", "tfs", "dls")
                }
                for r in hp.itertuples(index=False):
                    n = int(r.n)
                    rids = delta_decode_segments(bytes(r.ids), np.array([n])).astype(np.int64)
                    rtfs = varint_decode(bytes(r.tfs)).astype(np.int64)
                    rdls = varint_decode(bytes(r.dls)).astype(np.int64)
                    ns_t = hot_ns[r.term]
                    shards = np.mod(xxhash64_long_vec(rids), ns_t)
                    for s in np.unique(shards):
                        m = shards == s
                        sub = rids[m]
                        dsub = np.empty(len(sub), dtype=np.int64)
                        dsub[0] = sub[0]
                        np.subtract(sub[1:], sub[:-1], out=dsub[1:])
                        rows["term"].append(r.term)
                        rows["shard"].append(int(s))
                        rows["bucket"].append(r.bucket)
                        rows["df"].append(hot_df[r.term])
                        rows["cf"].append(hot_cf[r.term])
                        rows["n"].append(int(m.sum()))
                        rows["ids"].append(varint_encode(dsub.astype(np.uint64)))
                        rows["tfs"].append(varint_encode(rtfs[m].astype(np.uint64)))
                        rows["dls"].append(varint_encode(rdls[m].astype(np.uint64)))
                frames.append(pd.DataFrame(rows))
            yield pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]

    return gen


def _write_doc_lens(doc_lens: DataFrame, out_dir: str, mode: str) -> tuple[int, int]:
    """Write the doc_lengths table and return ``(n_docs, total_tokens)``.

    The two counts ride the write as ``DataFrame.observe`` metrics: the
    write is a result stage, so each partition's metrics are counted
    once, and no read-back aggregate runs (2 jobs and a cold collect
    fewer). Any mode but ``overwrite`` reads back instead: an append
    must count what the directory already held, and ``ignore`` may skip
    the write — and its metrics — altogether."""
    path = f"{out_dir}/doc_lens"
    if mode == "overwrite":
        obs = Observation()
        fsio.write_parquet(
            doc_lens.observe(
                obs, F.count(F.lit(1)).alias("n"), F.sum("dl").alias("tot")
            ),
            path,
            mode,
        )
        row = obs.get
    else:
        fsio.write_parquet(doc_lens, path, mode)
        row = (
            # explicit schema: an empty corpus writes a schema-less dir
            doc_lens.sparkSession.read.schema("doc_id long, dl int").parquet(path)
            .agg(F.count("*").alias("n"), F.sum("dl").alias("tot"))
            .collect()[0]
        )
    return int(row["n"] or 0), int(row["tot"] or 0)


def _build_index_fused(
    corpus: DataFrame,
    out_dir: str,
    analyzer: str,
    use_lang: bool,
    detail: str,
    prefix: tuple,
    n_buckets: int,
    postings_per_shard: int,
    block_size: int,
    k1: float,
    b: float,
    idf_variant: str,
    mode: str,
    merge_partitions: int | None,
    t0: float,
) -> IndexMeta:
    """Single-tokenize fused build (single-field, no positions — the
    scale shape): corpus → fused SPIMI-run pass (persisted: ~10× smaller
    than the raw posting relation) → doc_lens decoded from sentinel
    runs → df/cf aggregated over RUN rows (no decode) → narrow hot-term
    shard split → the standard (term, shard) exchange + merge. Postings
    are byte-for-byte identical to the raw-row build
    (test_run_shuffle_build_identical)."""
    spark = corpus.sparkSession
    cols = ["doc_id", "content"] + (
        ["lang"] if use_lang and "lang" in corpus.columns else []
    )
    runs0 = (
        corpus.select(*cols)
        .mapInPandas(
            _spimi_fused_run_encoder(analyzer, use_lang, n_buckets, prefix),
            RUNS0_SCHEMA,
        )
        .persist()
    )
    try:
        n_docs, total_tokens = _write_doc_lens(
            runs0.filter(F.col("term") == "").mapInPandas(
                _decode_doc_lens, "doc_id long, dl int"
            ),
            out_dir,
            mode,
        )
        meta = IndexMeta(
            n_docs=n_docs,
            # exact integer quotient: bitwise what F.avg gives below 2^53
            avgdl=total_tokens / n_docs if n_docs else 0.0,
            total_tokens=total_tokens,
            analyzer=analyzer,
            n_buckets=n_buckets,
            postings_per_shard=postings_per_shard,
            block_size=block_size,
            k1=k1,
            b=b,
            idf_variant=idf_variant,
            detail=detail,
            prefix=tuple(prefix or ()),
        )
        real = runs0.filter(F.col("term") != "")
        hot_map = {}
        if n_docs > postings_per_shard:  # else no term can be hot (merge_and_write)
            hot_map = {
                r["term"]: (int(r["df"]), int(r["cf"]))
                for r in real.groupBy("term")
                .agg(F.sum("n").alias("df"), F.sum("sum_tf").alias("cf"))
                .filter(F.col("df") > postings_per_shard)
                .collect()
            }
        runs = real.mapInPandas(
            _assign_shards_gen(hot_map, postings_per_shard), RUNS_SCHEMA
        )
        n_merge_parts = merge_partitions or spark.sparkContext.defaultParallelism * 2
        postings = (
            runs.repartition(n_merge_parts, "term", "shard")
            .sortWithinPartitions("term", "shard")
            .mapInPandas(_make_run_merge_encoder(meta), postings_schema(meta))
        )
        return _finalize_index_write(
            spark, postings, meta, out_dir, mode, t0, n_buckets
        )
    finally:
        runs0.unpersist()


def merge_and_write(
    tf: DataFrame,
    out_dir: str,
    analyzer: str,
    n_buckets: int = 64,
    postings_per_shard: int = 1 << 20,
    block_size: int = BLOCK_SIZE,
    k1: float = BM25_K1,
    b: float = BM25_B,
    idf_variant: str = "okapi",
    mode: str = "overwrite",
    t0: float | None = None,
    merge_partitions: int | None = None,
    fields: tuple | list = (),
    detail: str = "",
    prefix: tuple | list = (),
) -> IndexMeta:
    """Global merge phase over term-frequency runs (from a live SPIMI
    pass or from checkpointed segments): stats, df, sharded salted merge,
    varint encode, partitioned write. Three wide stages total.

    INVARIANT every caller keeps: each doc of ``tf`` carries exactly one
    sentinel row (term=''). The doc_lens write counts N from them, and
    since no term's df can exceed N, the hot-term df aggregate runs only
    when N > ``postings_per_shard``. Callers: :func:`build_index` and the
    lineage builds (SPIMI runs: one sentinel per input row), the delta
    append (one SPIMI segment), and the delta merge and compaction
    (decoded postings plus one sentinel per doc_lens row of the same
    layers, masked by the same tombstones).

    ``fields`` (multi-field runs from :func:`spimi_term_freqs_mc`): the
    tf relation then has one row per (doc, term, FIELD) and df counts
    DISTINCT docs; the encoder collapses field rows into per-doc streams
    (:func:`_encode_groups_frame_mc`). With ``detail='none'`` the runs
    are already collapsed (``spimi_term_freqs_mc(collapse=True)``) —
    ``fields`` is recorded in the meta for colspec parsing but the whole
    merge (including the run-shuffle fold) is the single-field one."""
    t0 = t0 or time.time()
    check_prefix_analyzer(tuple(prefix or ()), analyzer)
    has_positions = "positions" in tf.columns
    mc = bool(fields) and detail != "none"
    # doc_lens: every doc has exactly one sentinel row (term='') in the
    # SPIMI runs, so the doc-length table is a narrow FILTER — zero
    # shuffle — rather than a groupBy(doc_id) over the widest relation.
    # Written first (this is also the action that materializes a
    # persisted tf); N and the token total ride that write.
    n_docs, total_tokens = _write_doc_lens(
        tf.filter(F.col("term") == "").select("doc_id", "dl"), out_dir, mode
    )
    spark = tf.sparkSession
    meta = IndexMeta(
        n_docs=n_docs,
        # exact integer quotient: bitwise what F.avg gives below 2^53
        avgdl=total_tokens / n_docs if n_docs else 0.0,
        total_tokens=total_tokens,
        analyzer=analyzer,
        n_buckets=n_buckets,
        postings_per_shard=postings_per_shard,
        block_size=block_size,
        k1=k1,
        b=b,
        idf_variant=idf_variant,
        has_positions=has_positions,
        fields=tuple(fields),
        detail=detail,
        prefix=tuple(prefix or ()),
    )

    # sentinel rows (term='') carry doc lengths above but never become
    # postings
    real = tf.filter(F.col("term") != "")
    # Global term stats are only REQUIRED ahead of the merge for HOT
    # terms (df > postings_per_shard): they must shard, and their merge
    # groups see only a slice so they can't count df locally. Cold terms
    # (the overwhelming majority of any vocabulary) land whole in one
    # merge group, where df/cf = the group itself. So: one map-side-
    # combined aggregate whose reduce output is tiny, a driver filter to
    # the few hot terms, and a BROADCAST left join — the big relation is
    # never shuffled for a join. Net: the build's only full-width
    # exchange is the merge repartition itself.
    #
    # A term's df is at most the relation's doc count, and n_docs counts
    # at least that (one sentinel per doc): while n_docs <=
    # postings_per_shard no term can be hot, so the aggregate, its
    # broadcast join and the run path's collect are skipped and every
    # group counts itself.
    can_be_hot = n_docs > postings_per_shard
    dfs = real.groupBy("term").agg(
        # multi-field runs carry one row per (doc, term, FIELD): df is
        # DISTINCT docs there (two-phase partial distinct aggregation —
        # still map-side combined, output still one tiny row per term)
        (F.countDistinct("doc_id") if mc else F.count("*")).alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )
    hot = dfs.filter(F.col("df") > postings_per_shard)
    n_merge_parts = merge_partitions or spark.sparkContext.defaultParallelism * 2
    out_schema = postings_schema(meta)
    # RUN-SHUFFLE path (single-field, no positions — the scale shape):
    # the SPIMI relation is folded into per-window varint RUN rows BEFORE
    # the exchange, so the build's one full-width shuffle carries ~6×
    # fewer bytes and ~10× fewer rows than raw postings (measured at a
    # 200k-doc/240k-term corpus: 289 MB → ~70 MB, and the merge stage's
    # sort + Arrow transfer shrink with it). The merge decodes each
    # (term, shard) group's runs and re-encodes through the SAME kernel,
    # so postings are byte-for-byte identical to the raw-row path
    # (pinned by test_run_shuffle_build_identical). Positions/multi-field
    # builds keep the raw path (feature shapes; payload dominates there).
    use_runs = (
        not has_positions
        and not mc
        and os.environ.get("SPARKGREP_RUN_SHUFFLE", "on") != "off"
    )
    if use_runs:
        hot_map = {
            r["term"]: (int(r["df"]), int(r["cf"]))
            for r in (hot.collect() if can_be_hot else [])
        }
        runs = real.mapInPandas(
            _spimi_run_encoder(hot_map, n_buckets, postings_per_shard),
            RUNS_SCHEMA,
        )
        postings = (
            runs.repartition(n_merge_parts, "term", "shard")
            .sortWithinPartitions("term", "shard")
            .mapInPandas(_make_run_merge_encoder(meta), out_schema)
        )
    else:
        joined = (
            (
                real.join(F.broadcast(hot), "term", "left")
                if can_be_hot
                # the join's output shape, with every df/cf null
                else real.withColumns(
                    {"df": F.lit(None).cast("long"), "cf": F.lit(None).cast("long")}
                )
            )
            .withColumn(
                "n_shards",
                F.greatest(
                    F.lit(1),
                    F.ceil(F.coalesce(F.col("df"), F.lit(1)) / F.lit(postings_per_shard)).cast("int"),
                ),
            )
            .withColumn("shard", F.pmod(F.xxhash64("doc_id"), F.col("n_shards")).cast("int"))
            .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"))
            .drop("n_shards")  # shave shuffle bytes: only shard/bucket ride on
        )
        # sorted-partition streaming merge: one shuffle keyed on
        # (term, shard) + in-partition sort, then a single mapInPandas
        # that encodes many groups per Arrow batch (see
        # _make_partition_encoder). The partition count is EXPLICIT: a
        # column-only repartition lets AQE coalesce the exchange down to
        # a handful of tasks (compressed-size heuristic), silently
        # capping the encode stage's parallelism.
        sort_keys = ["term", "shard", "doc_id"] + (["col"] if mc else [])
        postings = (
            joined.repartition(n_merge_parts, "term", "shard")
            .sortWithinPartitions(*sort_keys)
            .mapInPandas(_make_partition_encoder(meta), out_schema)
        )
    return _finalize_index_write(spark, postings, meta, out_dir, mode, t0, n_buckets)


def write_postings(postings: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write a postings table: one ``bucket=<b>`` directory per bucket,
    each task's rows in ``(term, shard)`` order, so every file holds
    ascending, non-overlapping term ranges per row group — tight
    ``term`` min/max statistics that a ``term IN (...)`` lookup can
    prune on. Readers never depend on this order (a term's shard rows
    merge order-free). The dynamic-partition write sorts each task by
    ``bucket`` anyway; ``(bucket, term, shard)`` satisfies that
    ordering, so the finer sort replaces it: no second sort, no
    exchange."""
    fsio.write_parquet(
        postings.sortWithinPartitions("bucket", "term", "shard"),
        path,
        mode,
        partition_by=("bucket",),
    )


def _finalize_index_write(
    spark: SparkSession,
    postings: DataFrame,
    meta: IndexMeta,
    out_dir: str,
    mode: str,
    t0: float,
    n_buckets: int,
) -> IndexMeta:
    """Shared tail of every build: bucket-partitioned postings write
    (:func:`write_postings`: one file per bucket, rows in (term, shard)
    order), term_ubs sidecar (always a full overwrite snapshot, its row
    count taken as ``meta.n_terms`` while it is written), stats.json."""
    out_schema = postings_schema(meta)
    # encoded postings are ~2 bytes/posting — a cheap extra shuffle keyed
    # on bucket turns tasks×buckets tiny files into one file per bucket
    # (faster writes now, fewer files to list/scan at query time)
    write_postings(
        postings.repartition(n_buckets, "bucket"), f"{out_dir}/postings", mode
    )

    # term_ubs sidecar: one (df, BM25 upper bound) row per term, read
    # back from the written postings with column pruning (term/df/
    # block_max only — the varint payloads never leave the scan). The
    # pruned serving path (operators/wand.py) memoizes this driver-side
    # so planning a MaxScore query schedules no metadata job.
    if meta.per_field:
        # element-wise max of the per-field metadata across shards: the
        # per-field upper bounds / max tfs the weighted MaxScore planner
        # consumes (wand.plan_pruned). NULL-STRICT: a term with ANY
        # pre-upgrade row (fub absent — e.g. mode='append' over an old
        # index) gets NULL, not a silent understatement of the bound —
        # weighted pruning then routes that term's queries to exact.
        nf = len(meta.fields)
        has_null = F.max(F.col("fub").isNull().cast("int")) == 1
        extra = [
            F.when(has_null, F.lit(None))
            .otherwise(
                F.array(
                    *[F.max(F.element_at(F.col("fub"), c + 1)) for c in range(nf)]
                )
            )
            .alias("ub_cols"),
            F.when(has_null, F.lit(None))
            .otherwise(
                F.array(
                    *[
                        F.max(F.element_at(F.col("fmaxtf"), c + 1))
                        for c in range(nf)
                    ]
                )
            )
            .alias("maxtf_cols"),
        ]
    else:
        extra = []
    ubs = (
        spark.read.schema(out_schema).parquet(f"{out_dir}/postings")
        .groupBy("term")
        .agg(
            F.first("df").alias("df"),  # df is global, same on every shard
            F.max(F.array_max("block_max")).cast("double").alias("ub"),
            F.first("bucket").alias("bucket"),  # pure hash of term
            *extra,
        )
    )
    if not meta.per_field:
        ubs = ubs.withColumn(
            "ub_cols", F.lit(None).cast("array<double>")
        ).withColumn("maxtf_cols", F.lit(None).cast("array<long>"))
    # ALWAYS overwrite: the sidecar is a full snapshot recomputed from the
    # complete postings — honoring a caller's mode='append' here would
    # stack snapshots, leaving duplicate rows per term (stale smaller ubs
    # could then understate the MaxScore bound → unsound pruning).
    # Range-partitioned + sorted by term so a prefix StartsWith pushdown
    # prunes to the matching files/row-groups (term-dictionary role).
    # n_terms rides the write: observed AFTER the range exchange, so the
    # exchange's sampling job never evaluates (or double-counts) it.
    obs = Observation()
    fsio.write_parquet(
        ubs.repartitionByRange(8, "term")
        .sortWithinPartitions("term")
        .observe(obs, F.count(F.lit(1)).alias("n")),
        f"{out_dir}/term_ubs",
    )
    meta = replace(meta, n_terms=int(obs.get["n"] or 0))

    # metadata through the Hadoop FS API (sources/fsio.py) — same
    # filesystem resolution as the parquet writers above, so hdfs://- or
    # s3a://-style out_dirs work end to end
    payload = asdict(meta) | {"build_wall_sec": round(time.time() - t0, 3)}
    fsio.write_text(f"{out_dir}/stats.json", json.dumps(payload, indent=2))
    return meta


def build_index(
    corpus: DataFrame,
    out_dir: str,
    analyzer: str = "simple",
    use_lang: bool = False,
    store_positions: bool = False,
    fields: list[str] | None = None,
    detail: str | None = None,
    prefix=None,
    **merge_kw,
) -> IndexMeta:
    """One-shot index build: SPIMI pass + global merge.

    ``store_positions=True`` adds a per-posting token-position payload
    (``poss``) enabling phrase queries (reference supports quoted-phrase
    MATCH, test_message_manager.py:417-435); costs ~1 varint per token.

    ``fields`` indexes SEVERAL corpus columns as one FTS5-style
    multi-column index (the reference's FTS5 table shape —
    subject/body_text/sender, message_manager.py:101-110): queries gain
    column filters (``path:tok``) and per-column BM25 weights, with
    phrases/NEAR/'^' confined to a field exactly like SQLite. None keeps
    the classic single-'content' index, byte-for-byte.

    ``detail`` is FTS5's storage knob, with the same query surface per
    level (pinned by probe): 'full' = positions (phrases/NEAR/'^' live),
    'column' = per-field tf streams without positions (colsets +
    per-column weights live, phrase-family queries raise), 'none' = only
    the total streams — column-filter queries raise FTS5's "column
    queries are not supported (detail=none)" and the index is stored,
    merged and decoded exactly like a single-field index (run-shuffle
    fold included). None = keep the explicit ``store_positions`` flags
    (legacy surface, byte-for-byte).

    ``prefix`` is FTS5's prefix-index option (int, iterable of ints, or
    FTS5's '2 3' string): for each length n the index stores one extra
    aggregated posting list per distinct n-char term prefix, so a
    matching ``stem*`` query is a single term lookup — probed on real
    SQLite to be pure acceleration (identical bm25 results on every
    grammar construct). Refused with analyzer='trigram' (FTS5 accepts
    but gains nothing: every trigram term is exactly 3 codepoints, and
    trigram tokens may contain any codepoint, including the internal
    marker)."""
    t0 = time.time()
    prefix_t = normalize_prefix(prefix)
    check_prefix_analyzer(prefix_t, analyzer)
    if detail is not None:
        if detail not in ("full", "column", "none"):
            raise ValueError(f"detail must be full|column|none, got {detail!r}")
        if detail == "full":
            store_positions = True
        elif store_positions:
            raise ValueError(
                f"detail={detail} stores no positions — drop "
                "store_positions=True or use detail='full'"
            )
    if (
        not fields
        and not store_positions
        and os.environ.get("SPARKGREP_RUN_SHUFFLE", "on") != "off"
    ):
        # fused single-tokenize path (see _build_index_fused) — byte-
        # identical output, one pass over the corpus instead of a raw
        # posting relation cached + re-serialized between stages
        return _build_index_fused(
            corpus,
            out_dir,
            analyzer,
            use_lang,
            detail=detail or "",
            prefix=prefix_t,
            n_buckets=merge_kw.get("n_buckets", 64),
            postings_per_shard=merge_kw.get("postings_per_shard", 1 << 20),
            block_size=merge_kw.get("block_size", BLOCK_SIZE),
            k1=merge_kw.get("k1", BM25_K1),
            b=merge_kw.get("b", BM25_B),
            idf_variant=merge_kw.get("idf_variant", "okapi"),
            mode=merge_kw.get("mode", "overwrite"),
            merge_partitions=merge_kw.get("merge_partitions"),
            t0=t0,
        )
    if fields:
        tf = spimi_term_freqs_mc(
            corpus, list(fields), analyzer, use_lang,
            positions=store_positions, collapse=detail == "none",
            prefix=prefix_t,
        )
    else:
        tf = spimi_term_freqs(
            corpus, analyzer, use_lang, positions=store_positions,
            prefix=prefix_t,
        )
    # Re-deriving tf twice (doc_lens + merge) would re-run the tokenizer;
    # persist the SPIMI runs for the duration of the build.
    tf.persist()
    try:
        return merge_and_write(
            tf, out_dir, analyzer, t0=t0, fields=tuple(fields or ()),
            detail=detail or "", prefix=prefix_t, **merge_kw,
        )
    finally:
        tf.unpersist()


def spimi_schema_for(meta: IndexMeta):
    """The raw SPIMI run schema the index's configuration produces —
    what merge_and_write (and compaction's decode) consume. Used by
    delete_all to construct an empty run relation of the right shape."""
    from sparkgrep.schema import (
        TERM_FREQ_MC_POS_SCHEMA,
        TERM_FREQ_MC_SCHEMA,
        TERM_FREQ_POS_SCHEMA,
        TERM_FREQ_SCHEMA,
    )

    if meta.per_field:
        return TERM_FREQ_MC_POS_SCHEMA if meta.has_positions else TERM_FREQ_MC_SCHEMA
    return TERM_FREQ_POS_SCHEMA if meta.has_positions else TERM_FREQ_SCHEMA


def load_meta(index_dir: str) -> IndexMeta:
    d = json.loads(fsio.read_text(f"{index_dir}/stats.json"))
    d.pop("build_wall_sec", None)
    # v1 postings (no block-reset gaps / offsets) would decode silently
    # wrong under the v2 reader — refuse instead of filling defaults
    if int(d.get("version", 1)) < 2:
        raise ValueError(
            f"index at {index_dir!r} uses postings format "
            f"v{d.get('version', 1)}; this reader needs v2 — rebuild the "
            "index with build_index()"
        )
    return IndexMeta(**d)
