"""Index-backed BM25 top-k serving (reference ``search_by_keywords``,
``message_manager.py:225-264``, rebuilt over the engine's postings table).

Query lifecycle (SURVEY §3.3): tokenize the query with the index's own
analyzer → prune the postings scan to the query terms' hash buckets
(partition pruning on the ``bucket=`` directory column, then row-group
min/max on ``term``) → decode varint postings and score in one numpy
pass (`mapInPandas`) → deterministic ordered-fold aggregation per doc →
distributed top-k. No join against a doc-length table: dl is stored in
the posting payload, so a query touches ONLY its terms' shards.

Two drivers answer ``search``, ``search_expr`` and ``search_batch``,
bitwise-identically:

- the **fetch driver**, when a query's postings fit
  :data:`_COLLECT_BUDGET`: ONE bucket-pruned collect fetches the rows of
  every term (plain terms, phrase slots, NEAR members and the terms
  each ``stem*`` resolves to), they decode through
  ``functions/postings.py:decode_row`` and the numpy evaluator
  (``functions/evaluator.py`` — the one ``serve.LocalServer`` caches
  for) ranks on the driver. Nothing is cached;
- the **DataFrame evaluator** past the budget: bag-of-words runs the
  decode-and-score kernel and the ordered fold above; in the query
  language each unit becomes a per-(doc, field) relation off ONE raw
  decode kernel (:func:`_decode_raw_gen`), colset-filtered and
  weight-folded to a per-doc tf (``InvertedIndex._unit_tf``), then
  ranked by one gated fold (``_rank_units``).

A single-field or detail=none index is the one-field case of weight 1.0
(``InvertedIndex._expr_weights``). Either driver hands back its ≤k rows
as a local, Arrow-backed frame (:func:`_result_frame`): the caller's
``collect()`` runs no Spark job.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from sparkgrep.functions import evaluator as ev
from sparkgrep.functions.querylang import (
    Conjunct,
    ParsedQuery,
    Unit,
    parse_query,
    plain_terms,
    star_slots,
    stem_terms,
)
from sparkgrep.functions.tokenizer import tokenize_py
from sparkgrep.functions.postings import candidate_blocks, decode_row
from sparkgrep.operators.index_build import IndexMeta, load_meta
from sparkgrep.operators.score import idf as idf_fn

# the fetch driver's collect budget (postings): a query whose terms and
# stems hold at most this many postings in all is answered by ONE
# bucket-pruned collect and the numpy evaluator on the driver; beyond
# it the DataFrame evaluator runs on the executors. MaxScore's pass-1
# collect (wand.py) shares it.
_COLLECT_BUDGET = 1 << 18

# parsed once here, not per query: a DDL string costs a JVM parse on
# every createDataFrame
_RESULT = StructType(
    [
        StructField("rank", IntegerType()),
        StructField("doc_id", LongType()),
        StructField("score", DoubleType()),
    ]
)
_BATCH_RESULT = StructType([StructField("query_id", StringType()), *_RESULT.fields])


def _result_frame(
    spark: SparkSession, pdf: pd.DataFrame, schema: StructType = _RESULT
) -> DataFrame:
    """Driver-side result rows as a Spark frame whose ``collect()`` runs
    no job: a typed pandas frame (columns in ``schema`` order) becomes
    an Arrow-backed local relation, with Arrow on as
    ``session.get_spark`` sets it. An empty pandas frame would take the
    row path, which runs a job, so an empty result is one typed
    placeholder row under ``limit(0)``."""
    if len(pdf):
        return spark.createDataFrame(pdf, schema)
    one = ev.ranked(np.zeros(1, np.int64), np.zeros(1, np.float64))
    if schema == _BATCH_RESULT:
        one.insert(0, "query_id", [""])
    return spark.createDataFrame(one, schema).limit(0)


def _decode_score_gen(
    meta: IndexMeta,
    w: list[float] | None = None,
    idf_map: dict[str, float] | None = None,
    tomb=None,
    candidates: np.ndarray | None = None,
):
    """Decode-and-score kernel: (term, doc_id, contrib) per posting.

    ``w=None`` scores the total-tf stream (plain OR). With per-field
    weights ``w`` the tf is FTS5's per-column weighted sum Σ_c w_c·tf_c
    off the per-field streams, folded in ascending field order — the
    left-associated float sequence of the exact path's ``_wsum_mc``, so
    contributions are bitwise-equal to ``_rank_units``'s fold inputs.
    Presence stays weight-independent (zero weights still match, FTS5
    parity), so zero-contribution rows are kept.

    ``idf_map`` (required for LAYERED indexes, where a row's stored df
    is layer-local) carries the global idf per term computed
    driver-side from summed layer dfs; when absent the row's own global
    df is used — the identical double either way (same idf_fn on the
    same df). ``tomb`` masks tombstone-deleted docs at decode.
    ``candidates`` (sorted doc ids, wand pass 2) decodes only the blocks
    whose doc range holds a candidate and keeps only candidate docs."""
    k1, b, avgdl, n_docs = meta.k1, meta.b, meta.avgdl, meta.n_docs
    variant = meta.idf_variant
    cand = None if candidates is None else np.sort(candidates)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for r in pdf.itertuples():
                if idf_map is not None and r.term not in idf_map:
                    # a fully-deleted term (summed df ≤ 0): every one of
                    # its postings is masked — skip the row
                    continue
                blocks = None
                if cand is not None:
                    blocks = candidate_blocks(r, cand)
                    if not blocks.size:
                        continue
                ids, dls, tf = decode_row(
                    r, meta, fields=w is not None, blocks=blocks, tomb=tomb
                )[:3]
                if cand is not None:
                    at = np.searchsorted(cand, ids)
                    keep = cand[np.minimum(at, cand.size - 1)] == ids
                    ids, dls, tf = ids[keep], dls[keep], tf[keep]
                if not ids.size:
                    continue
                if w is None:
                    tfs = tf[:, 0]
                else:
                    tfs = w[0] * tf[:, 0].astype(np.float64)
                    for c in range(1, tf.shape[1]):
                        tfs = tfs + w[c] * tf[:, c].astype(np.float64)
                idf = (
                    idf_map[r.term]
                    if idf_map is not None
                    else idf_fn(n_docs, r.df, variant)
                )
                contrib = idf * (tfs * (k1 + 1.0)) / (
                    tfs + (k1 * ((1.0 - b) + ((b * dls) / avgdl)))
                )
                outs.append(
                    pd.DataFrame({"term": r.term, "doc_id": ids, "contrib": contrib})
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return gen


def _decode_raw_gen(meta: IndexMeta, with_positions: bool = False, tomb=None):
    """Decode postings to raw (term, doc_id, col, tf, dl[, positions])
    rows, one per (term, doc, FIELD) with tf > 0 — the basis for AND /
    phrase / prefix / NEAR scoring, where the fold needs unit
    frequencies rather than precomputed contributions, and for the
    merges. The per-field layout (:attr:`IndexMeta.per_field`) expands
    its ``tfs_cols``/``poss_cols`` streams next to the shared doc_id/dl
    streams, with field-relative positions (they reset at each field
    start — pinned against SQLite, so '^' anchors per field and phrases
    never span fields); the single-field layout decodes its ``tfs``/
    ``poss`` streams as field 0. ``tomb`` masks tombstone-deleted docs
    at decode."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for r in pdf.itertuples():
                d = decode_row(r, meta, fields=True, positions=with_positions, tomb=tomb)
                # flat positions run field by field: field c's instances
                # are pos[bounds[c]:bounds[c + 1]]
                bounds = np.concatenate(([0], np.cumsum(d.tf.sum(axis=0))))
                for c in range(d.tf.shape[1]):
                    tfc = d.tf[:, c]
                    sel = np.flatnonzero(tfc > 0)
                    if not sel.size:
                        continue
                    frame = pd.DataFrame({
                        "term": r.term,
                        "doc_id": d.ids[sel],
                        "col": np.full(sel.size, c, dtype=np.int32),
                        "tf": tfc[sel].astype(np.int32),
                        "dl": d.dls[sel].astype(np.int32),
                    })
                    if with_positions:
                        plist = np.split(
                            d.pos[bounds[c]:bounds[c + 1]], np.cumsum(tfc)[:-1]
                        )
                        frame["positions"] = [plist[j].astype(np.int32) for j in sel]
                    outs.append(frame)
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return gen


def _raw_schema(with_positions: bool = False) -> str:
    """Output DDL of :func:`_decode_raw_gen`."""
    return "term string, doc_id long, col int, tf int, dl int" + (
        ", positions array<int>" if with_positions else ""
    )


def _shift_by(i: int):
    # single-param closure: a 2-arg lambda would be bound as (element,
    # index) by Spark's higher-order-function API
    def f(x):
        return x - F.lit(i)

    return f


def _near_arrow_gen(lens: list[int], n: int):
    """``mapInArrow`` kernel of a NEAR group over its joined per-group
    start arrays ``s0..s{k-1}`` (a group is one (doc_id, col) row): each
    Arrow batch is flattened — the row index is the dense group id — and
    ONE positional-kernel call (``positional.near_mask``, the vectorized
    ``querylang.near_supported``) marks every supported instance. Emits
    (member, doc_id, col, tf, dl) for satisfied groups, tf = the member's
    supported-instance count."""
    import pyarrow as pa

    from sparkgrep.functions.positional import near_mask

    k = len(lens)

    def gen(batches):
        for b in batches:
            rows = np.arange(b.num_rows)
            members = []
            for i in range(k):
                col = b.column(f"s{i}")
                lengths = col.value_lengths().to_numpy(zero_copy_only=False)
                pos = col.flatten().to_numpy().astype(np.int64)
                members.append((np.repeat(rows, lengths), pos))
            masks = near_mask(members, lens, n)
            tfs = [
                np.bincount(g[m], minlength=rows.size)
                for (g, _pos), m in zip(members, masks)
            ]
            sat = np.flatnonzero(tfs[0])  # every member is supported where any is
            if not sat.size:
                continue
            cols = {"member": np.repeat(np.arange(k, dtype=np.int32), sat.size)}
            for key in ("doc_id", "col"):
                v = b.column(key).to_numpy()
                cols[key] = np.tile(v[sat], k)
            cols["tf"] = np.concatenate([tf[sat] for tf in tfs]).astype(np.int32)
            cols["dl"] = np.tile(b.column("dl").to_numpy()[sat], k)
            yield pa.RecordBatch.from_arrays(
                [pa.array(v) for v in cols.values()], names=list(cols)
            )

    return gen


class InvertedIndex:
    """Handle over a built index directory."""

    def __init__(self, spark: SparkSession, index_dir: str):
        from sparkgrep.operators.index_build import postings_schema
        from sparkgrep.plans.manifest import SWAP_MARKER
        from sparkgrep.plans.purge import PURGE_MARKER
        from sparkgrep.sources import fsio

        self.spark = spark
        self.index_dir = index_dir
        # a pending swap marker means a compact/delete-all crashed
        # mid-swap: subdirs may be mixed old/new relative to stats.json.
        # Refuse loudly instead of serving silently-wrong scores; any
        # maintenance op (or finish_pending_swap) rolls it forward.
        if fsio.exists(f"{index_dir}/{SWAP_MARKER}"):
            raise ValueError(
                f"index at {index_dir!r} has a crashed compact/delete-all "
                "swap pending — run sparkgrep.plans.manifest."
                "finish_pending_swap() (or any maintenance op, e.g. "
                "'optimize') to roll it forward, then reopen"
            )
        # a purge swap marker means purge_deleted crashed BETWEEN a
        # directory's two renames — the one state the tombstone mask
        # cannot cover (that bucket is absent; serving would silently
        # return zero hits for its terms). Refuse loudly; re-running
        # purge (or any maintenance op) rolls it forward.
        if fsio.exists(f"{index_dir}/{PURGE_MARKER}"):
            raise ValueError(
                f"index at {index_dir!r} has a crashed purge swap "
                "pending — run sparkgrep.plans.purge.purge_deleted() "
                "(or recover_purge_swaps(), or any maintenance op) to "
                "roll it forward, then reopen"
            )
        self.meta = load_meta(index_dir)
        # explicit schema: robust to an empty (zero-posting) index
        schema = postings_schema(self.meta)
        # log-structured layers: base + unmerged delta appends. Each layer
        # is read separately and unioned — filters (bucket pruning, term
        # pushdown) push into every child scan. doc_ids are disjoint
        # across layers (a doc is indexed wholly in one layer), so
        # presence-counted dfs and per-(term, doc) contribution rows stay
        # exact; global N/avgdl come from the root meta, which delta
        # appends update incrementally from exact integers.
        self.layer_dirs = [index_dir] + [
            f"{index_dir}/{lay}" for lay in (self.meta.layers or ())
        ]
        # TOMBSTONE layers (delete_batch_delta): deleted doc_ids are
        # masked at decode time, but only in layers OLDER than each
        # tombstone (cut = layer count at delete time) so re-appended
        # doc_ids serve their new version. The id sets are collected
        # once per handle (O(deletes-since-compaction) — the LSM
        # contract) and shipped as broadcasts, not task closures.
        self.tomb_dirs = [
            f"{index_dir}/{rel}" for rel in (self.meta.tombstones or ())
        ]
        self._tomb_spec: list[tuple[int, object]] | None = None
        purged = {int(i) for i in (self.meta.tombstone_purged or ())}
        if self.tomb_dirs:
            spec = []
            for ti, (td, cut) in enumerate(
                zip(self.tomb_dirs, self.meta.tombstone_cuts or ())
            ):
                if ti in purged:
                    # surgically purged (plans/purge.py): the ids are
                    # physically gone from every layer this tombstone
                    # masked — only its negated-df sidecar still applies
                    continue
                ids = np.sort(np.array(
                    [
                        r["doc_id"]
                        for r in spark.read.schema("doc_id long")
                        .parquet(f"{td}/doc_ids").collect()
                    ],
                    dtype=np.int64,
                ))
                spec.append((int(cut), spark.sparkContext.broadcast(ids)))
            self._tomb_spec = spec or None
        parts = [
            spark.read.schema(schema).parquet(f"{d}/postings")
            for d in self.layer_dirs
        ]
        if self._tomb_spec:
            # decode kernels need each row's layer to apply cut-aware
            # masking; only added when tombstones exist, so untombstoned
            # plans (and their bitwise behavior) are unchanged
            parts = [
                q.withColumn("layer_seq", F.lit(seq).cast("int"))
                for seq, q in enumerate(parts)
            ]
        p = parts[0]
        for q in parts[1:]:
            p = p.unionByName(q)
        self.postings = p
        # layered OR tombstoned: per-row stored dfs are stale/layer-local
        # → idf comes from the summed sidecars. tomb_dirs (not _tomb_spec):
        # a PURGED tombstone no longer masks, but its negated-df sidecar
        # is still the correction that makes summed dfs global-exact
        self.is_layered = len(self.layer_dirs) > 1 or bool(self.tomb_dirs)
        # per-layer build-time (n_docs, avgdl) snapshots written by the
        # delta/tombstone writers (IndexMeta.layer_stats): when present
        # and aligned with the postings layers, the sidecar fold rescales
        # each layer's ub into a GLOBAL-sound MaxScore bound and pruning
        # stays enabled on layered indexes; absent (pre-upgrade layered
        # index) → pruning_sound is False and wand routes to exact
        ls = [tuple(x) for x in (self.meta.layer_stats or ())]
        self._layer_prune_stats = (
            ls if self.is_layered and len(ls) == len(self.layer_dirs) else None
        )
        self._warm = False
        # driver-side (df, ub, ub_cols, maxtf_cols) cache for MaxScore
        # planning — see term_ubs() / term_ubs_full(). ub_cols/maxtf_cols
        # are per-field tuples (weighted-bound inputs) or None when any
        # contributing layer predates them
        self._ub_cache: dict[str, tuple | None] = {}
        self._ub_full = False
        # term dictionary for prefix pruning (term → hash bucket; sorted
        # term list for driver-side bisect) — see prefix_terms()
        self._bucket_cache: dict[str, int | None] = {}
        self._sorted_terms: list[str] | None = None

    def warm(self) -> "InvertedIndex":
        """Serving mode: pin the postings table in executor memory
        (columnar cache) so repeated queries skip the parquet scan.
        On a cluster this is the resident shard of a serving tier; cache
        misses fall through to parquet transparently."""
        if not self._warm:
            self.postings = self.postings.persist()
            self.postings.count()  # materialize
            self._warm = True
        return self

    @property
    def pruning_sound(self) -> bool:
        """True when :meth:`term_ubs` values are valid GLOBAL BM25 upper
        bounds: always on a compacted (single-layer, untombstoned) index;
        on a layered one only when per-layer build stats enable the
        sidecar rescale (see :meth:`_fold_sidecar_rows`). wand.py gates
        MaxScore planning on this."""
        return (not self.is_layered) or self._layer_prune_stats is not None

    # -- internals ----------------------------------------------------------

    def _fold_sidecar_rows(self, acc: dict, rows, layer_ix: int) -> None:
        """Fold one sidecar's rows into the per-term accumulator
        ``term -> [df_sum, ub_acc, bucket, ubc_acc, mtf_acc]``. Layer dfs
        SUM (doc_ids are disjoint across layers); tombstone sidecars
        (``layer_ix`` past the postings layers) carry df < 0, ub 0 and
        only subtract. ``ub_acc`` semantics depend on the index shape:

        - compacted: max of the stored ubs (already global);
        - layered with per-layer stats: a stored ub is
          idf_L·max(tfcomp_L) computed with LAYER-local stats. Dividing
          out idf_L and inflating by max(1, avgdl_g/avgdl_L) bounds
          max(tfcomp_g) — tfcomp is monotone increasing in avgdl and the
          ratio tfcomp_g/tfcomp_L has supremum avgdl_g/avgdl_L (reached
          as dl→∞) — so ub_acc accumulates that idf-free factor and
          :meth:`_global_ub` multiplies the global idf back in. Deleted
          postings can only make the bound conservative;
        - layered without stats: raw max is kept but ``pruning_sound``
          is False, so nothing consumes it as a bound.

        ``ubc_acc`` (multi-field indexes) accumulates the per-FIELD ubs
        (``ub_cols``) under the exact same rescale, element-wise;
        ``mtf_acc`` element-wise-maxes the per-field max tfs. A postings
        layer whose sidecar lacks them (pre-upgrade) poisons both to
        None — weighted pruning then routes that term to exact."""
        rescale = self._layer_prune_stats
        is_postings_layer = layer_ix < len(self.layer_dirs)
        meta = self.meta
        for r in rows:
            a = acc.setdefault(r["term"], [0, 0.0, r["bucket"], [], []])
            a[0] += int(r["df"])
            if not is_postings_layer:
                continue  # tombstone sidecar: ub never raises a bound
            ub = float(r["ub"])
            ubc = r["ub_cols"]
            mtf = r["maxtf_cols"]
            scale = None
            if rescale is not None:
                n_l, avgdl_l = rescale[layer_ix]
                idf_l = float(idf_fn(int(n_l), int(r["df"]), meta.idf_variant))
                infl = (meta.avgdl / avgdl_l) if avgdl_l > 0 else 1.0
                scale = max(1.0, infl) / idf_l if idf_l > 0 else None
                ub = ub * scale if scale is not None else float("inf")
            a[1] = max(a[1], ub)
            if a[3] is None or ubc is None or mtf is None:
                a[3] = a[4] = None  # pre-upgrade layer: no weighted bound
                continue
            if rescale is not None:
                ubc = (
                    [v * scale for v in ubc]
                    if scale is not None
                    else [float("inf")] * len(ubc)
                )
            if not a[3]:
                a[3] = [float(v) for v in ubc]
                a[4] = [int(v) for v in mtf]
            else:
                a[3] = [max(x, float(v)) for x, v in zip(a[3], ubc)]
                a[4] = [max(x, int(v)) for x, v in zip(a[4], mtf)]

    def _global_ub(self, df: int, ub_acc: float) -> float:
        """Finish an accumulated ub into the global bound term_ubs
        exposes (identity on a compacted index). okapi indexes never
        prune (wand.plan_pruned refuses the variant — its idf goes
        negative), so no consumer reads the bound: return 0.0 instead of
        evaluating an idf whose log can leave its domain on stale-high
        sidecar dfs (prefix MARKER rows carry no tombstone correction by
        design — the marker path derives df from the masked decode)."""
        if self._layer_prune_stats is None:
            return ub_acc
        if self.meta.idf_variant == "okapi":
            return 0.0
        return float(idf_fn(self.meta.n_docs, df, self.meta.idf_variant)) * ub_acc

    def _finish_cache_entry(self, df: int, ub_acc: float, ubc, mtf) -> tuple:
        """Accumulated sidecar fold → the 4-tuple the caches hold:
        (df, global ub, per-field global ubs | None, per-field max tfs |
        None). An empty ubc (term seen only in tombstone sidecars — df
        went ≤ 0 upstream) or a poisoned one stays None."""
        ub = self._global_ub(df, ub_acc)
        if not ubc or mtf is None:
            return (df, ub, None, None)
        if self._layer_prune_stats is not None:
            if self.meta.idf_variant == "okapi":
                return (df, ub, None, None)  # okapi never prunes
            gidf = float(idf_fn(self.meta.n_docs, df, self.meta.idf_variant))
            ubc = [v * gidf for v in ubc]
        return (df, ub, tuple(ubc), tuple(mtf))

    def _buckets_for(self, terms: list[str]) -> list[int]:
        # driver-side XXH64 (bit-compatible with the build side's
        # F.xxhash64, pinned by tests/test_xxhash.py) — no Spark job
        from sparkgrep.functions.xxhash import term_bucket

        return sorted({term_bucket(t, self.meta.n_buckets) for t in terms})

    def _matched(self, terms: list[str]) -> DataFrame:
        buckets = self._buckets_for(terms)
        return self.postings.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(terms)
        )

    # whole-vocabulary driver load cap for the term_ubs sidecar: ~24 B/term
    # of payload → ≲ a few hundred MB of dict at the cap; beyond it, only
    # the query's own terms are fetched (predicate-pushdown scan)
    _UB_FULL_LOAD_MAX = 2_000_000

    def _ensure_full_ubs(self) -> bool:
        """Memoize the WHOLE term_ubs sidecar driver-side (df/ub for
        MaxScore planning + the sorted term→bucket dictionary for prefix
        resolution). On a layered index every layer's sidecar is loaded
        and per-term df SUMMED (doc_ids are disjoint across layers); ub
        is rescaled per layer into a global-sound bound when the layer
        stats allow it (see _fold_sidecar_rows — otherwise
        ``pruning_sound`` is False and wand routes to the exact path).
        True when fully resident; False when a sidecar is absent or the
        vocabulary exceeds the driver budget."""
        if self._ub_full:
            return True
        from sparkgrep.operators.index_build import TERM_UBS_SCHEMA
        from sparkgrep.sources import fsio

        paths = [
            f"{d}/term_ubs" for d in self.layer_dirs + self.tomb_dirs
        ]
        if not all(fsio.exists(p) for p in paths) or not (
            0 <= self.meta.n_terms <= self._UB_FULL_LOAD_MAX
        ):
            return False
        acc: dict[str, list] = {}
        for li, path in enumerate(paths):
            self._fold_sidecar_rows(
                acc,
                self.spark.read.schema(TERM_UBS_SCHEMA).parquet(path).collect(),
                li,
            )
        for t, (df, ub_acc, bucket, ubc, mtf) in acc.items():
            if df <= 0:
                # every doc containing the term was deleted: keep it out
                # of the dictionary and negative-cache it (its postings
                # rows all mask away at decode)
                self._ub_cache[t] = None
                continue
            self._ub_cache[t] = self._finish_cache_entry(df, ub_acc, ubc, mtf)
            self._bucket_cache[t] = int(bucket) if bucket is not None else None
        self._sorted_terms = sorted(self._bucket_cache)
        self._ub_full = True
        return True

    def term_ubs(self, terms: list[str]) -> dict[str, tuple[int, float]]:
        """{term: (df, BM25 upper bound)} for the given terms; terms with
        no postings are absent. Backed by the build-time ``term_ubs``
        sidecar, memoized driver-side (whole vocabulary when small,
        per-term with negative caching otherwise) so MaxScore planning
        costs no Spark job after first touch."""
        from sparkgrep.operators.index_build import TERM_UBS_SCHEMA
        from sparkgrep.sources import fsio

        missing = [t for t in terms if t not in self._ub_cache]
        if missing and not self._ensure_full_ubs():
            paths = [
                f"{d}/term_ubs" for d in self.layer_dirs + self.tomb_dirs
            ]
            if all(fsio.exists(p) for p in paths):
                acc: dict[str, list] = {}
                for li, path in enumerate(paths):
                    rows = (
                        self.spark.read.schema(TERM_UBS_SCHEMA).parquet(path)
                        .filter(F.col("term").isin(missing))
                        .collect()
                    )
                    # layer dfs sum (disjoint docs), tombstone sidecars
                    # subtract, layered ubs rescale to global bounds
                    self._fold_sidecar_rows(acc, rows, li)
                for t, (df, ub_acc, _bucket, ubc, mtf) in acc.items():
                    # df ≤ 0 = fully-deleted term → negative cache
                    self._ub_cache[t] = (
                        self._finish_cache_entry(df, ub_acc, ubc, mtf)
                        if df > 0
                        else None
                    )
            else:
                # pre-sidecar index (single layer by construction): derive
                # from postings metadata (column-pruned scan of the query
                # terms' buckets only); no per-field bounds — weighted
                # pruning routes to exact
                rows = (
                    self._matched(missing)
                    .select("term", "df", F.array_max("block_max").alias("ub"))
                    .groupBy("term")
                    .agg(F.first("df").alias("df"), F.max("ub").alias("ub"))
                    .collect()
                )
                for r in rows:
                    self._ub_cache[r["term"]] = (
                        int(r["df"]), float(r["ub"]), None, None
                    )
            for t in missing:  # negative cache: no postings for this term
                self._ub_cache.setdefault(t, None)
        out = {}
        for t in terms:
            hit = self._ub_cache.get(t)
            if hit is not None:
                out[t] = hit[:2]
        return out

    def term_ubs_full(self, terms: list[str]) -> dict[str, tuple]:
        """{term: (df, ub, ub_cols | None, maxtf_cols | None)} — the
        extended sidecar record behind :meth:`term_ubs`. ub_cols /
        maxtf_cols are per-field global bounds on a multi-field index
        (inputs to the weighted MaxScore bound, wand.plan_pruned); None
        on single-field indexes, pre-upgrade sidecars, or terms any of
        whose layers lack them."""
        self.term_ubs(terms)  # populate/refresh the cache
        out = {}
        for t in terms:
            hit = self._ub_cache.get(t)
            if hit is not None:
                out[t] = hit
        return out

    # prefix resolution cap: a stem matching more terms than this (a
    # 1-character stem over a web-scale vocabulary) is cheaper to serve
    # with the legacy metadata sweep than with a 10^5-term isin filter
    _PREFIX_RESOLVE_MAX = 65536

    def prefix_terms(self, stem: str) -> list[str] | None:
        """Resolve ``stem*`` to the exact matching index terms via the
        sorted term dictionary (term_ubs sidecar): driver-side bisect
        when the vocabulary is memoized, else a pushed-down StartsWith
        scan of the range-partitioned sidecar (row-group min/max prunes
        non-matching files). Returns None when the dictionary cannot
        answer — pre-dictionary index, or more than _PREFIX_RESOLVE_MAX
        matches — and callers fall back to the legacy full-metadata
        postings sweep."""
        from sparkgrep.operators.index_build import (
            PREFIX_MARKER,
            TERM_UBS_SCHEMA,
        )
        from sparkgrep.sources import fsio

        # FTS5 prefix-index fast path: the build stored one aggregated
        # marker entry per distinct len(stem)-char prefix (tf summed,
        # positions merged — exactly the relation the multi-term decode
        # computes, pinned bitwise in tests/test_prefix_index.py), so
        # the stem resolves to ONE term: no dictionary scan, a single
        # bucket's pruned decode, and every downstream consumer
        # (tf/positions/serve fetches, residency estimate) rides the
        # ordinary term path. A stem with no matching tokens resolves to
        # a marker with no postings — the same empty result.
        if stem and len(stem) in (self.meta.prefix or ()):
            return [PREFIX_MARKER + stem]
        if self._ensure_full_ubs():
            import bisect

            lo = bisect.bisect_left(self._sorted_terms, stem)
            out = []
            for t in self._sorted_terms[lo:]:
                if not t.startswith(stem):
                    break
                if self._bucket_cache.get(t) is None:
                    return None  # pre-dictionary sidecar (no bucket col)
                out.append(t)
                if len(out) > self._PREFIX_RESOLVE_MAX:
                    return None
            return out
        paths = [
            f"{d}/term_ubs" for d in self.layer_dirs + self.tomb_dirs
        ]
        if not all(fsio.exists(p) for p in paths):
            return None
        # tombstone sidecars carry negative dfs: sum per term so a
        # fully-deleted term drops out of the resolution
        dfs: dict[str, int] = {}
        for path in paths:
            rows = (
                self.spark.read.schema(TERM_UBS_SCHEMA).parquet(path)
                .filter(F.col("term").startswith(stem))
                .select("term", "bucket", "df")
                .limit(self._PREFIX_RESOLVE_MAX + 1)
                .collect()
            )
            if len(rows) > self._PREFIX_RESOLVE_MAX:
                return None
            if any(r["bucket"] is None for r in rows):
                return None  # pre-dictionary sidecar
            for r in rows:
                dfs[r["term"]] = dfs.get(r["term"], 0) + int(r["df"])
            if len(dfs) > self._PREFIX_RESOLVE_MAX:
                return None
        return sorted(t for t, df in dfs.items() if df > 0)

    def _prefix_buckets(self, stem: str) -> list[int] | None:
        """DISTRIBUTED dictionary resolve for stems whose match set is
        too large to enumerate driver-side (> _PREFIX_RESOLVE_MAX — a
        1-char stem over a web-scale vocabulary): instead of a term
        list, resolve the set of hash BUCKETS holding any matching term
        via a range-partitioned scan of the sorted ``term_ubs``
        dictionary (StartsWith pushes down; the sort makes parquet
        row-group min/max stats prune non-matching files) aggregated to
        ``collect_set(bucket)`` — at most n_buckets rows reach the
        driver no matter how many terms match. The postings scan then
        partition-prunes to those buckets with the StartsWith predicate
        pushed into them, instead of the legacy whole-table metadata
        sweep. None only for a pre-dictionary index (no sidecar, or a
        sidecar without the bucket column)."""
        from sparkgrep.operators.index_build import TERM_UBS_SCHEMA
        from sparkgrep.sources import fsio

        if self._ensure_full_ubs():
            # vocabulary memoized: bisect driver-side, zero Spark jobs
            import bisect

            lo = bisect.bisect_left(self._sorted_terms, stem)
            out: set[int] = set()
            for t in self._sorted_terms[lo:]:
                if not t.startswith(stem):
                    break
                b = self._bucket_cache.get(t)
                if b is None:
                    return None  # pre-dictionary sidecar (no bucket col)
                out.add(b)
                if len(out) >= self.meta.n_buckets:
                    break  # every bucket already matched
            return sorted(out)
        buckets: set[int] = set()
        for d in self.layer_dirs:
            path = f"{d}/term_ubs"
            if not fsio.exists(path):
                return None
            rows = (
                self.spark.read.schema(TERM_UBS_SCHEMA).parquet(path)
                .filter(F.col("term").startswith(stem))
                .select("bucket")
                .distinct()
                .collect()
            )
            if any(r["bucket"] is None for r in rows):
                return None  # pre-dictionary sidecar
            buckets.update(int(r["bucket"]) for r in rows)
        return sorted(buckets)

    def _prefix_matched(self, stem: str) -> DataFrame:
        """Postings rows for ``stem*``: resolved through the term
        dictionary into a normal bucket-pruned + term-pushdown scan
        whenever possible. A stem matching more than _PREFIX_RESOLVE_MAX
        terms resolves its BUCKET set distributedly instead
        (:meth:`_prefix_buckets`) — partition pruning + pushed StartsWith,
        never a whole-table sweep. The full metadata sweep survives only
        for pre-dictionary indexes."""
        terms = self.prefix_terms(stem)
        if terms is not None:
            return self._matched(terms)
        # degenerate stem on a non-memoized vocabulary: prefix_terms'
        # bounded enumeration scans (≤ _PREFIX_RESOLVE_MAX rows/layer,
        # row-group pruned, early-out on first overflow) ran before this
        # bucket resolve. The partial scan CANNOT seed the bucket set —
        # its limit truncates before covering all matches — so the extra
        # bounded metadata job per layer is the price of trying exact
        # enumeration first, paid only by stems past the 64k-match cap.
        buckets = self._prefix_buckets(stem)
        pred = F.col("term").startswith(stem)
        if buckets is None:
            return self.postings.filter(pred)
        return self.postings.filter(F.col("bucket").isin(buckets) & pred)

    # -- the fetch driver -------------------------------------------------------

    def _fetch_postings(self, terms, stems: dict) -> dict:
        """Decoded evaluator entries (``functions/evaluator.py``): term →
        its postings, ``(stem, "*")`` → the stem's union, for ``terms``
        and ``stems`` (stem → its :meth:`prefix_terms` resolution). ONE
        bucket-pruned collect fetches every term and every resolved
        stem's terms; a stem resolved to None pays its own
        :meth:`_prefix_matched` collect."""
        meta, tomb = self.meta, self._tomb_spec
        cols = ev.postings_columns(meta, tomb)
        want = set(terms).union(*(ts for ts in stems.values() if ts is not None))
        parts = {}
        if want:
            rows = self._matched(sorted(want)).select(*cols).collect()
            parts = ev.decode_rows(rows, meta, tomb)
        stems = dict(stems)
        for s, ts in stems.items():
            if ts is None:
                rows = self._prefix_matched(s).select(*cols).collect()
                scan = ev.decode_rows(rows, meta, tomb)  # every term in it matches
                parts.update(scan)
                stems[s] = list(scan)
        return ev.merge_entries(parts, terms, stems, meta)

    def _fetch_driver(self, terms: list[str], stems=()) -> ev.Fetched | None:
        """The fetch driver's entries for a query, or None when they may
        not fit :data:`_COLLECT_BUDGET` — then the DataFrame evaluator
        runs. Σ df of the terms and of every term the stems resolve to
        (:meth:`prefix_terms`) is bounded job-free by ``n_docs`` per
        term first and read from the memoized :meth:`term_ubs` only
        when that bound is over the budget; a stem the dictionary
        cannot resolve has no bound. Nothing is cached."""
        resolved = {s: self.prefix_terms(s) for s in stems}
        if any(ts is None for ts in resolved.values()):
            return None
        want = sorted(set(terms).union(*resolved.values()))
        if len(want) * self.meta.n_docs > _COLLECT_BUDGET and (
            sum(df for df, _ub in self.term_ubs(want).values()) > _COLLECT_BUDGET
        ):
            return None
        return ev.Fetched(self.meta, self._fetch_postings(terms, resolved))

    def _contribs(
        self,
        terms: list[str],
        w: list[float] | None = None,
        candidates: np.ndarray | None = None,
    ) -> DataFrame:
        """Per-(term, doc) BM25 contributions off one decode
        (:func:`_decode_score_gen`): plain over the total-tf streams, or
        WEIGHTED (tf = Σ_c w_c·tf_c in fixed field order) over the
        per-field streams — the single-decode basis for batched serving
        and MaxScore pass 1/2, bitwise-equal to the exact per-query
        path's ``_rank_units`` fold inputs (pinned by
        tests/test_wand_weighted.py). ``candidates`` restricts the
        decode to candidate-touching blocks (MaxScore pass 2)."""
        if w is not None and not self.meta.per_field:
            raise ValueError(
                "weighted contributions need a multi-field index with "
                "per-field tf streams (detail='full' or 'column')"
            )
        idf_map = self._layered_idf_map(terms)
        return self._matched(terms).mapInPandas(
            _decode_score_gen(self.meta, w, idf_map, self._tomb_spec, candidates),
            "term string, doc_id long, contrib double",
        )

    def decode_raw(
        self, with_positions: bool = False, postings: DataFrame | None = None
    ) -> DataFrame:
        """Every live posting as raw (term, doc_id[, col], tf, dl[,
        positions]) rows — tombstone-deleted docs already masked out.
        This is the lossless basis compaction re-merges from. On the
        per-field layout rows are per (term, doc, FIELD) with a ``col``
        column and field-relative positions — exactly the multi-field
        SPIMI shape, so compaction feeds them straight back through the
        merge; the single-field layout (single-field and detail=none
        indexes: per-doc totals) drops ``col``, the single-field SPIMI
        shape. ``postings`` substitutes a pre-filtered slice of
        :attr:`postings` (e.g. the vocab views' marker-free relation) so
        the filter pushes into the scan instead of running after the
        decode kernel."""
        src = postings if postings is not None else self.postings
        raw = self._decode_raw(src, with_positions)
        return raw if self.meta.per_field else raw.drop("col")

    def _decode_raw(self, src: DataFrame, with_positions: bool = False) -> DataFrame:
        """:func:`_decode_raw_gen` over ``src`` postings rows, with this
        handle's tombstone mask."""
        return src.mapInPandas(
            _decode_raw_gen(self.meta, with_positions, tomb=self._tomb_spec),
            _raw_schema(with_positions),
        )

    def dead_ids_df(self, layer_seq: int) -> DataFrame | None:
        """doc_ids deleted from layer ``layer_seq`` (tombstones with cut
        > seq), as a DataFrame — None when nothing masks that layer."""
        purged = {int(i) for i in (self.meta.tombstone_purged or ())}
        dirs = [
            td
            for ti, (td, cut) in enumerate(
                zip(self.tomb_dirs, self.meta.tombstone_cuts or ())
            )
            if int(cut) > layer_seq and ti not in purged
        ]
        if not dirs:
            return None
        out = None
        for td in dirs:
            part = self.spark.read.schema("doc_id long").parquet(f"{td}/doc_ids")
            out = part if out is None else out.unionByName(part)
        return out.distinct()

    def _layered_idf_map(self, terms: list[str]) -> dict[str, float] | None:
        """Global per-term idf for LAYERED indexes (a posting row's
        stored df is layer-local there); None on a single-layer index,
        where the executor-side per-row df path is used unchanged."""
        dfs = self._layered_dfs(terms)
        if dfs is None:
            return None
        return {
            t: float(idf_fn(self.meta.n_docs, df, self.meta.idf_variant))
            for t, df in dfs.items()
        }

    @staticmethod
    def _fold_scores(
        contribs: DataFrame, terms_sorted: list[str], extra_keys: list[str] | None = None
    ) -> DataFrame:
        from sparkgrep.operators.score import fold_contribs

        keys = (extra_keys or []) + ["doc_id"]
        return fold_contribs(contribs, terms_sorted, keys=keys)

    # -- public API ---------------------------------------------------------

    def search(
        self,
        query_text: str,
        k: int = 10,
        mode: str = "or",
        strict: bool = False,
        weights=None,
    ) -> DataFrame:
        """One query → (rank, doc_id, score); ties by doc_id.

        mode='or'   — bag-of-words: docs matching ANY term, scored over
                      matched terms (match-or-drop, reference P5).
        mode='and'  — conjunctive: docs containing ALL terms (the
                      reference's implicit-AND MATCH default).
        mode='expr' — the complete FTS5 query grammar: implicit/explicit
                      AND, OR, binary NOT, quoted phrases, prefix
                      (tok*), parentheses, NEAR groups, and — on a
                      multi-field index — column filters ``col:`` /
                      ``{c1 c2}:`` / ``-col:`` (see
                      functions/querylang.py).

        ``weights`` (multi-field indexes only): per-field BM25 weights —
        FTS5's ``bm25(t, w0, w1, ...)`` — as a list in field order or a
        {field: w} dict; missing entries default to 1.0. Matching is
        weight-independent (FTS5 parity).

        strict=True raises on an empty/no-term query, matching FTS5's
        error on an empty MATCH (test_message_manager.py:599-610);
        default returns an empty relation.

        Two drivers answer, bitwise-identically. When the query's
        postings fit the collect budget (:meth:`_fetch_driver`), ONE
        bucket-pruned collect fetches them and the numpy evaluator
        (``functions/evaluator.py``) ranks on the driver; otherwise the
        DataFrame evaluator runs on the executors. Either way the ≤k
        result rows come back as a local frame whose ``collect()`` runs
        no Spark job.
        """
        return _result_frame(
            self.spark, self._search_pdf(query_text, k, mode, strict, weights)
        )

    def _search_pdf(
        self, query_text: str, k: int, mode: str = "or", strict: bool = False, weights=None
    ) -> pd.DataFrame:
        """:meth:`search`'s ranked rows as the driver-side pandas frame
        (``LocalServer``'s residency-cap delegation takes them as is)."""
        if mode == "expr":
            return self._search_expr_pdf(query_text, k, strict, weights)
        if weights is None and self.meta.rank_weights:
            # FTS5 'rank' configuration: the persisted default rank
            # function applies whenever the query passes no weights
            weights = list(self.meta.rank_weights)
        terms = sorted(set(tokenize_py(query_text, self.meta.analyzer)))
        if not terms:
            if strict:
                raise ValueError("empty query (FTS5 parity: empty MATCH is an error)")
            return ev.empty_result()
        if mode == "and":
            pq = ParsedQuery((Conjunct(tuple(Unit((t,)) for t in terms)),))
            return self._search_parsed(pq, k, weights)
        if mode != "or":
            raise ValueError(f"unknown mode {mode!r} (or|and|expr)")
        if weights is not None:
            # non-default weights need per-field tfs: run OR as its DNF
            return self._search_parsed(_any_of(terms), k, weights)
        src = self._fetch_driver(terms)
        if src is not None:
            return ev._bow(src, terms, k, self._layered_dfs(terms))
        scored = self._fold_scores(self._contribs(terms), terms)
        return self._top(scored, k)

    def _layered_dfs(self, terms: list[str]) -> dict[str, int] | None:
        """Global per-term dfs of a LAYERED index (summed layer
        sidecars; a shard row's stored df is layer-local there), None on
        a single-layer index, whose stored dfs are global."""
        if not self.is_layered:
            return None
        return {t: df for t, (df, _ub) in self.term_ubs(terms).items()}

    def _top(self, scored: DataFrame, k: int) -> pd.DataFrame:
        """The top ``k`` of a (doc_id, score) relation by score desc,
        doc_id asc, collected and ranked on the driver."""
        rows = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()
        return ev.ranked(
            np.array([r["doc_id"] for r in rows], np.int64),
            np.array([r["score"] for r in rows], np.float64),
        )

    def search_expr(
        self, query_text: str, k: int = 10, strict: bool = False, weights=None
    ) -> DataFrame:
        """Query-language search: the parser normalizes the full FTS5
        grammar to OR-of-AND over term/phrase/prefix units with
        unit-level exclusions and NEAR predicates; scoring is FTS5's
        model (every unit is a BM25 atom; a doc's score sums the
        contributions of the query units it contains — NOT/NEAR only
        restrict the match set). On a multi-field index the FTS5 column
        filters are live (``col:tok``, ``{c1 c2}:"a b"``, ``-col:x``,
        ``col:NEAR(...)``, ``col:(...)`` distribution) and ``weights``
        supplies FTS5's per-column bm25() weights.

        Drivers as in :meth:`search`: the fetch driver when the query's
        terms, phrase slots, NEAR members and resolved ``stem*`` terms
        fit the collect budget — one Spark job in all — else the
        DataFrame evaluator."""
        return _result_frame(
            self.spark, self._search_expr_pdf(query_text, k, strict, weights)
        )

    def _search_expr_pdf(
        self, query_text: str, k: int, strict: bool = False, weights=None
    ) -> pd.DataFrame:
        """:meth:`search_expr`'s ranked rows as the driver-side pandas
        frame."""
        if weights is None and self.meta.rank_weights:
            # FTS5 'rank' configuration option (set_rank): persisted
            # default weights; an explicit ``weights`` overrides (the
            # ``rank MATCH`` per-query form — probed)
            weights = list(self.meta.rank_weights)
        pq = parse_query(
            query_text, self.meta.analyzer, fields=self.meta.fields or None
        )
        if not pq.disjuncts:
            if strict:
                raise ValueError("empty query (FTS5 parity: empty MATCH is an error)")
            return ev.empty_result()
        return self._search_parsed(pq, k, weights)

    def _search_parsed(
        self, pq: ParsedQuery, k: int, weights=None
    ) -> pd.DataFrame:
        w, nf = self._expr_weights(pq, weights)
        units = pq.units()
        src = self._fetch_driver(
            sorted({t for u in units for t in plain_terms(u)}),
            sorted({s for u in units for s in stem_terms(u)}),
        )
        if src is not None:
            return ev._search_parsed(src, pq, units, k, w, nf)
        unit_tf, groups, near_uids = self._unit_tf(pq, w, nf)
        unit_tf = unit_tf.persist()
        try:
            return self._rank_units(pq, unit_tf, groups, near_uids, k)
        finally:
            unit_tf.unpersist()

    def _expr_weights(self, pq: ParsedQuery, weights) -> tuple[list[float], int]:
        """(per-field weights ``w``, field count ``nf``) of the
        query-language evaluators — this distributed one and
        ``serve.LocalServer``'s — and their query gates. The per-field
        layout folds its ``nf`` fields under FTS5's bm25() weights; every
        other index is ONE field of weight 1.0 (bitwise-exact: 1.0·tf is
        an exact int → float conversion). Gates (FTS5 parity, probed):
        on detail=none, where fields exist for colspec PARSING only,
        colset queries raise SQLite's exact complaint and weights raise
        (FTS5 recomputes per-column tf by re-tokenizing stored row
        content — this index stores no content and no per-field tfs); a
        single-field index refuses weights."""
        from sparkgrep.functions.querylang import uses_colsets

        if self.meta.per_field:
            return self._weights_list(weights), len(self.meta.fields)
        if self.meta.fields:
            if uses_colsets(pq):
                raise ValueError("column queries are not supported (detail=none)")
            if weights is not None:
                raise ValueError(
                    "per-column weights are not supported on a detail=none "
                    "index (no per-field tf streams; build with "
                    "detail='column' or 'full')"
                )
        elif weights is not None:
            raise ValueError(
                "per-column weights need a multi-field index "
                "(build_index(..., fields=[...]))"
            )
        return [1.0], 1

    # -- per-(doc, field) unit relations ------------------------------------

    def _weights_list(self, weights) -> list[float]:
        """Per-field BM25 weights in field order. FTS5 parity (pinned):
        missing trailing arguments default to 1.0, extras are ignored;
        a dict keys by field name. Matching is weight-independent —
        weights only scale each field's tf contribution."""
        nf = len(self.meta.fields)
        if weights is None:
            return [1.0] * nf
        if isinstance(weights, dict):
            return [float(weights.get(f, 1.0)) for f in self.meta.fields]
        w = [float(x) for x in weights]
        return (w + [1.0] * nf)[:nf]

    def _raw_units(self, terms: list[str], with_positions: bool = False) -> DataFrame:
        return self._decode_raw(self._matched(terms), with_positions)

    def _wsum_mc(self, percol: DataFrame, w: list[float], cols: list[int], keys=("doc_id",)) -> DataFrame:
        """Collapse a per-(doc, field) relation to per-doc weighted tf:
        tf = Σ_c w_c·tf_c over ``cols`` in ASCENDING field order (a fixed
        left-associated float fold — the DuckDB oracle mirrors the same
        order bitwise). A doc is kept when ANY colset field has an
        instance (presence is weight-independent: zero weights still
        match, pinned against SQLite). A one-field colset (every
        single-field index) needs no grouping: its rows are already one
        per key, and w_c·tf_c is the whole fold."""
        if len(cols) == 1:
            c = cols[0]
            tf = F.lit(float(w[c])) * F.col("tf").cast("double")
            return percol.filter(F.col("col") == c).select(
                *keys, tf.alias("tf"), "dl"
            )
        aggs = [
            F.sum(F.when(F.col("col") == c, F.col("tf"))).alias(f"_t{c}")
            for c in cols
        ]
        g = percol.groupBy(*keys).agg(F.first("dl").alias("dl"), *aggs)
        pres = None
        expr = None
        for c in cols:
            t = F.coalesce(F.col(f"_t{c}").cast("double"), F.lit(0.0))
            e = F.lit(float(w[c])) * t
            expr = e if expr is None else expr + e
            p = F.col(f"_t{c}").isNotNull()
            pres = p if pres is None else (pres | p)
        return g.filter(pres).select(*keys, expr.alias("tf"), "dl")

    def _phrase_starts_any(
        self, terms: tuple[str, ...], slots: tuple[int, ...]
    ) -> DataFrame:
        """(doc_id, col, dl, starts array<int>) per (doc, FIELD) of a
        phrase with PREFIX slots ``slots`` — the one positional kernel
        behind plain phrases (slots=()), FTS5 tail prefixes ('"a b"*',
        slots=(L-1,)) and FTS5 phrase-INTERNAL prefixes ('a* + b', probed
        and pinned in tests/test_phrase_prefix.py). A plain slot
        contributes its exact term's positions, a starred slot the
        per-(doc, field) UNION of positions of every stored term matching
        the stem; instance starts are the slot-shifted intersection
        (array_intersect in codegen). Positions are field-relative, so a
        phrase never spans fields (FTS5 parity). One token occupies each
        position, so starts stay a set and tf = |starts| for every slot
        mix. Docs missing any plain term or any stem match drop at the
        pivot/join."""
        if not self.meta.has_positions:
            raise ValueError(
                "phrase queries need an index built with store_positions=True"
            )
        star = set(slots)
        plain = sorted({t for i, t in enumerate(terms) if i not in star})
        stems = sorted({terms[i] for i in star})
        j = None
        if plain:
            raw = self._raw_units(plain, with_positions=True)
            j = (
                raw.groupBy("doc_id", "col")
                .agg(
                    F.first("dl").alias("dl"),
                    F.map_from_entries(
                        F.collect_list(F.struct("term", "positions"))
                    ).alias("pmap"),
                    F.count("*").alias("_nt"),
                )
                .filter(F.col("_nt") == len(plain))
            )
        stem_ix = {s: i for i, s in enumerate(stems)}
        for s in stems:
            cols = ["doc_id", "col"] + (["dl"] if j is None else [])
            r = self._prefix_positions(s).select(
                *cols, F.col("tpos").alias(f"_tp{stem_ix[s]}")
            )
            j = r if j is None else j.join(r, ["doc_id", "col"])

        def src(i: int):
            if i in star:
                return F.col(f"_tp{stem_ix[terms[i]]}")
            return F.element_at(F.col("pmap"), F.lit(terms[i]))

        starts = src(0)
        for i in range(1, len(terms)):
            starts = F.array_intersect(starts, F.transform(src(i), _shift_by(i)))
        return (
            j.select("doc_id", "col", "dl", F.array_sort(starts).alias("starts"))
            .filter(F.size("starts") > 0)
        )

    def _prefix_positions(self, stem: str) -> DataFrame:
        """(doc_id, col, dl, tpos): per-(doc, FIELD) union of positions
        of every stored term matching the prefix stem."""
        raw = self._decode_raw(self._prefix_matched(stem), with_positions=True)
        return raw.groupBy("doc_id", "col").agg(
            F.first("dl").alias("dl"),
            F.array_sort(F.flatten(F.collect_list("positions"))).alias("tpos"),
        )

    def _unit_percol(self, u) -> DataFrame:
        """(doc_id, col, tf int, dl) for one unit per (doc, FIELD) —
        before colset filtering/weighting: terms straight off the
        postings decode; phrase tf = instance count; prefixes sum the
        stem's tfs (FTS5's prefix scoring model). Anchored units (FTS5
        '^') count one instance per field whose position 0 matches (a
        row's anchored tf is the weighted count of anchored FIELDS,
        pinned against SQLite; a doc with the term at positions 0 and 5
        scores as tf=1)."""
        slots = star_slots(u)
        if u.anchored:
            if not self.meta.has_positions:
                raise ValueError(
                    "anchored (^) queries need an index built with store_positions=True"
                )
            if u.is_phrase:
                starts = self._phrase_starts_any(u.terms, slots)
            elif slots:
                starts = self._prefix_positions(u.terms[0]).withColumnRenamed(
                    "tpos", "starts"
                )
            else:
                starts = self._raw_units(
                    list(u.terms), with_positions=True
                ).withColumnRenamed("positions", "starts")
            return starts.filter(F.array_contains("starts", 0)).select(
                "doc_id", "col", F.lit(1).cast("int").alias("tf"), "dl"
            )
        if u.is_phrase:
            return self._phrase_starts_any(u.terms, slots).select(
                "doc_id", "col", F.size("starts").cast("int").alias("tf"), "dl"
            )
        if slots:
            raw = self._decode_raw(self._prefix_matched(u.terms[0]))
            return raw.groupBy("doc_id", "col").agg(
                F.sum("tf").cast("int").alias("tf"), F.first("dl").alias("dl")
            )
        return self._raw_units([u.terms[0]]).select("doc_id", "col", "tf", "dl")

    def _member_starts(self, u) -> DataFrame:
        """(doc_id, col, dl, starts) of a NEAR member's instance START
        positions per (doc, FIELD) — term: its positions; phrase:
        intersected starts; prefix: union of matching terms' positions;
        starred phrase slots (tail OR internal): stem-matched positions
        in the slot-shifted intersection."""
        if u.is_phrase:
            return self._phrase_starts_any(u.terms, star_slots(u))
        if star_slots(u):
            return self._prefix_positions(u.terms[0]).select(
                "doc_id", "col", "dl", F.col("tpos").alias("starts")
            )
        return self._raw_units(list(u.terms), with_positions=True).select(
            "doc_id", "col", "dl", F.array_sort(F.col("positions")).alias("starts")
        )

    def _near_eval(self, grp, w: list[float], cols: list[int]) -> DataFrame:
        """(member int, doc_id, tf double, dl) for a NEAR group's
        CONSTRAINED member atoms (FTS5 semantics,
        ``querylang.near_supported``, pinned): rows exist only for docs
        satisfying the proximity predicate, and a member's tf counts its
        SUPPORTED instances — those participating in at least one
        selection spanning ≤ N intervening token positions. A selection
        lives WITHIN one field: the members' per-(doc, field) start sets
        are inner-joined (docs missing any member can't match) and tested
        per field by an Arrow-batched kernel, and a member's tf is the
        weighted sum of its supported-instance counts over the satisfied
        colset fields. Member df (handled by the caller's override) is
        the member's colset-restricted full presence."""
        if not self.meta.has_positions:
            raise ValueError(
                "NEAR queries need an index built with store_positions=True"
            )
        joined = None
        for i, u in enumerate(grp.phrases):
            s = self._member_starts(u).filter(F.col("col").isin(cols))
            sel = ["doc_id", "col"] + (["dl"] if i == 0 else [])
            s = s.select(*sel, F.col("starts").alias(f"s{i}"))
            joined = s if joined is None else joined.join(s, ["doc_id", "col"])
        # a phrase-prefix member spans len(terms) positions (tail = 1 token)
        lens = [len(u.terms) for u in grp.phrases]
        percol = joined.mapInArrow(
            _near_arrow_gen(lens, grp.n),
            "member int, doc_id long, col int, tf int, dl int",
        )
        return self._wsum_mc(percol, w, cols, keys=("member", "doc_id"))

    def _unit_tf(self, pq: ParsedQuery, w: list[float], nf: int):
        """Per-unit per-doc (tf, dl) relation over ``nf`` fields weighted
        by ``w`` (see :meth:`_expr_weights`): every unit's relation is
        colset-filtered per (doc, FIELD) and collapsed to a weighted
        per-doc tf (:meth:`_wsum_mc`), so unit dfs (counted by the
        ranking tail) are colset-restricted and scoring follows FTS5's
        multi-column bm25 exactly. tf is DOUBLE (a weighted sum). Returns
        (unit_tf, near groups, member-uid map)."""
        all_cols = list(range(nf))
        units = pq.units()
        parts = []
        # batched common case: plain term atoms with no colset and no
        # occurrence suffix share ONE decode + ONE grouped weighted sum
        plain = [
            u for u in units
            if not u.is_phrase and not u.prefix and not u.anchored
            and u.cols is None and not u.occ
        ]
        if plain:
            terms = sorted({u.terms[0] for u in plain})
            percol = self._raw_units(terms).select(
                "term", "doc_id", "col", "tf", "dl"
            )
            rel = self._wsum_mc(percol, w, all_cols, keys=("term", "doc_id"))
            parts.append(
                rel.select(
                    F.concat(F.lit("t:"), F.col("term")).alias("uid"),
                    "doc_id", "tf", "dl",
                )
            )
        for u in units:
            if u in plain:
                continue
            cols = sorted(u.cols) if u.cols is not None else all_cols
            if not cols:
                continue  # empty colset intersection: matches nothing
            percol = self._unit_percol(u).filter(F.col("col").isin(cols))
            rel = self._wsum_mc(percol, w, cols)
            parts.append(
                rel.select(F.lit(u.uid).alias("uid"), "doc_id", "tf", "dl")
            )
        # NEAR groups (including those inside exclude expressions): one
        # constrained-atom relation per distinct group — rows only for
        # satisfying docs, tf = supported instances (FTS5 semantics)
        groups = pq.near_groups()
        near_uids: dict[int, list[str]] = {}
        for gid, grp in enumerate(groups):
            uids_g = [f"n{gid}:{u.uid}" for u in grp.phrases]
            near_uids[gid] = uids_g
            cols_g = sorted(grp.cols) if grp.cols is not None else all_cols
            if not cols_g:
                continue  # unmatchable group: member atoms stay absent
            uid_arr = F.array(*[F.lit(x) for x in uids_g])
            parts.append(
                self._near_eval(grp, w, cols_g).select(
                    F.element_at(uid_arr, F.col("member") + 1).alias("uid"),
                    "doc_id", "tf", "dl",
                )
            )
        if not parts:
            parts = [
                self.spark.createDataFrame(
                    [], "uid string, doc_id long, tf double, dl int"
                )
            ]
        unit_tf = parts[0]
        for p in parts[1:]:
            unit_tf = unit_tf.unionByName(p)
        return unit_tf, groups, near_uids

    def _rank_units(
        self, pq: ParsedQuery, unit_tf: DataFrame, groups, near_uids, k: int
    ) -> pd.DataFrame:
        """Shared scoring/ranking tail over the per-unit relation (same
        for single- and multi-field indexes): query-time unit dfs →
        driver idf → gated uid-ordered fold → match filter → top-k."""
        meta = self.meta
        # unit document frequencies (for terms this equals the stored
        # df; for phrases it's the phrase-match doc count), then idf
        # driver-side — one tiny collect
        dfs = {
            r["uid"]: r["df"]
            for r in unit_tf.groupBy("uid").agg(F.count("*").alias("df")).collect()
        }
        # NEAR member atoms keep the member's FULL corpus presence as
        # df (pinned against SQLite) even though their rows cover
        # only satisfying docs
        for gid, grp in enumerate(groups):
            for u, nuid in zip(grp.phrases, near_uids[gid]):
                if nuid in dfs:
                    dfs[nuid] = dfs[u.uid]
        if not dfs:
            return ev.empty_result()
        idf_rows = [
            (uid, float(idf_fn(meta.n_docs, dfs[uid], meta.idf_variant)))
            for uid in sorted(dfs)
        ]
        idf_df = self.spark.createDataFrame(idf_rows, "uid string, idf double")
        from sparkgrep.operators.score import bm25_contrib_col

        contribs = unit_tf.join(F.broadcast(idf_df), "uid").withColumn(
            "contrib",
            bm25_contrib_col(
                F.col("tf").cast("double"), F.col("dl").cast("double"),
                F.col("idf"), meta.avgdl, meta.k1, meta.b,
            ),
        )
        # pivot per unit (uid-sorted — deterministic fold order shared
        # with the SQL oracle), then boolean match + score sum
        order = [uid for uid, _ in idf_rows]
        pos = {uid: i for i, uid in enumerate(order)}
        aggs = [
            F.sum(F.when(F.col("uid") == uid, F.col("contrib"))).alias(f"_c{i}")
            for i, uid in enumerate(order)
        ]
        g = contribs.groupBy("doc_id").agg(*aggs)

        def conj_cond(conj):
            # None = statically unsatisfiable (an include unit or
            # NEAR group with no matches anywhere)
            c = None
            for u in conj.includes:
                if u.uid not in pos:
                    return None
                cond = F.col(f"_c{pos[u.uid]}").isNotNull()
                c = cond if c is None else (c & cond)
            for grp in conj.nears:
                # group satisfied ⟺ its (first) member atom present —
                # constrained rows exist exactly for satisfying docs
                nuid = near_uids[groups.index(grp)][0]
                if nuid not in pos:
                    return None
                cond = F.col(f"_c{pos[nuid]}").isNotNull()
                c = cond if c is None else (c & cond)
            if c is None:
                return None  # bare-NOT conjunct matches nothing
            for u in conj.excludes:
                if u.uid in pos:  # absent exclude unit is vacuous
                    c = c & F.col(f"_c{pos[u.uid]}").isNull()
            for e in conj.exclude_exprs:
                ec = expr_cond(e)
                if ec is not None:  # unmatchable exclusion is vacuous
                    c = c & ~ec
            return c

        def expr_cond(conjs):
            c = None
            for conj in conjs:
                cc = conj_cond(conj)
                if cc is not None:
                    c = cc if c is None else (c | cc)
            return c

        match = expr_cond(pq.disjuncts)
        if match is None:
            return ev.empty_result()
        # FTS5 scoring gate (pinned against SQLite): a unit
        # contributes to a doc's score only when some disjunct
        # containing it as an INCLUDE matches the doc — a present
        # unit whose own subexpression fails (NOT fired, co-include
        # missing) adds nothing. For monotone queries this reduces to
        # presence, and for single-disjunct queries to the match
        # condition itself, so the fold is bitwise-unchanged there.
        scoring_uids = []  # per top-level conjunct: the atoms it scores
        for conj in pq.disjuncts:
            s = {u.uid for u in conj.includes}
            for grp in conj.nears:
                s.update(near_uids[groups.index(grp)])
            scoring_uids.append(s)
        gates = {}
        for uid in order:
            gate = None
            for conj, s in zip(pq.disjuncts, scoring_uids):
                if uid in s:
                    cc = conj_cond(conj)
                    if cc is not None:
                        gate = cc if gate is None else (gate | cc)
            gates[uid] = gate
        expr = None
        for i, uid in enumerate(order):
            gate = gates[uid]
            contrib_i = F.coalesce(F.col(f"_c{i}"), F.lit(0.0))
            col = (
                F.when(gate, contrib_i).otherwise(F.lit(0.0))
                if gate is not None
                else F.lit(0.0)
            )
            expr = col if expr is None else expr + col
        # ≤ k rows, collected eagerly so the cache can drop
        return self._top(g.filter(match).select("doc_id", expr.alias("score")), k)

    def search_batch(
        self, queries: list[tuple[str, str, int]], pruned: bool = False
    ) -> DataFrame:
        """[(query_id, query_text, k)] → (query_id, rank, doc_id, score).

        When the postings of every term of the batch fit the collect
        budget, ONE fetch serves the whole batch and each query is the
        evaluator's bag-of-words fold over its own terms (the weighted
        fold of :meth:`search` under a rank configuration): each answer
        is :meth:`search`'s by construction.

        Otherwise one postings scan serves all queries: decode each
        matched term once, fan contributions out to the queries
        containing the term via a broadcast join, then ONE fold keyed on
        (query_id, doc_id) and one per-query rank window.
        Bitwise-identical to per-query ``search``: the global
        sorted-term fold order restricted to a query's terms is still
        that query's sorted order, and the coalesced 0.0 for terms
        outside the query is an exact identity.

        ``pruned=True`` routes selective queries through the MaxScore
        planner (``wand.search_batch_pruned``): one shared pass-1 job +
        one shared block-skipping pass-2 job for the selective share,
        the ordinary batched fold for the rest — same results, decode
        work ∝ candidate-touching blocks at scale.
        """
        if pruned:
            from sparkgrep.operators.wand import search_batch_pruned

            return search_batch_pruned(self, queries)
        meta = self.meta
        parsed = [
            (qid, sorted(set(tokenize_py(text, meta.analyzer))), k)
            for qid, text, k in queries
        ]
        all_terms = sorted({t for _q, terms, _k in parsed for t in terms})
        src = self._fetch_driver(all_terms) if all_terms else None
        if src is not None:
            dfs = None if meta.rank_weights else self._layered_dfs(all_terms)
            frames = []
            for qid, terms, k in parsed:
                if not terms:
                    continue
                if meta.rank_weights:
                    pq = _any_of(terms)
                    w, nf = self._expr_weights(pq, list(meta.rank_weights))
                    res = ev._search_parsed(src, pq, pq.units(), k, w, nf)
                else:
                    res = ev._bow(src, terms, k, dfs)
                res.insert(0, "query_id", qid)
                frames.append(res)
            out = pd.concat(frames, ignore_index=True) if frames else ev.empty_result()
            return _result_frame(self.spark, out, _BATCH_RESULT)
        weighted_w: list[float] | None = None
        if meta.rank_weights:
            # persisted rank configuration (set_rank): the plain batched
            # fold scores the unweighted TOTAL streams, so the batch
            # decodes WEIGHTED contributions instead (one shared decode,
            # _decode_score_gen with weights — tf = Σ_c w_c·tf_c in the
            # exact path's float order) and reuses the same single fold keyed
            # (query_id, doc_id). Bitwise-consistent with per-query
            # search under the config: restricting the global
            # sorted-term fold to a query's terms preserves its sorted
            # order and the coalesced 0.0 is an exact identity — the
            # same argument as the unweighted batch. Per-query union
            # survives only for shapes whose weighted decode can't run
            # (no per-field tf streams) so the error surface matches
            # per-query search.
            if meta.per_field:
                weighted_w = self._weights_list(list(meta.rank_weights))
            else:
                parts = []
                for qid, text, k in queries:
                    res = self.search(text, k).withColumn("query_id", F.lit(qid))
                    parts.append(res.select("query_id", "rank", "doc_id", "score"))
                out = parts[0]
                for q in parts[1:]:
                    out = out.unionByName(q)
                return out
        qterm_rows = [(qid, t) for qid, terms, _k in parsed for t in terms]
        if not qterm_rows:
            return _result_frame(self.spark, ev.empty_result(), _BATCH_RESULT)
        kmap = {qid: k for qid, _terms, k in parsed}
        contribs = self._contribs(all_terms, weighted_w)
        qterms = self.spark.createDataFrame(qterm_rows, "query_id string, term string")
        fanned = contribs.join(F.broadcast(qterms), "term")
        scored = self._fold_scores(fanned, all_terms, extra_keys=["query_id"])
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        ranked = scored.withColumn("rank", F.row_number().over(w).cast("int"))
        # per-query k cut via a tiny broadcast of (query_id, k)
        kdf = self.spark.createDataFrame(list(kmap.items()), "query_id string, k int")
        rows = (
            ranked.join(F.broadcast(kdf), "query_id")
            .filter(F.col("rank") <= F.col("k"))
            .select("query_id", "rank", "doc_id", "score")
            .collect()
        )  # ≤ Σk rows — eager, nothing left cached
        out = pd.DataFrame(rows, columns=["query_id", "rank", "doc_id", "score"])
        out = out.astype({"rank": "int32", "doc_id": "int64", "score": "float64"})
        return _result_frame(self.spark, out, _BATCH_RESULT)


def _any_of(terms: list[str]) -> ParsedQuery:
    """Bag-of-words OR as a query-language DNF: one single-term
    disjunct per term — identical match-any semantics."""
    return ParsedQuery(tuple(Conjunct((Unit((t,)),)) for t in terms))
