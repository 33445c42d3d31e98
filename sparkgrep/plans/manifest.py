"""Checkpointed, resumable index builds with per-segment lineage
(north rule; SURVEY §7.6).

The reference can only rebuild from scratch (``force_recreate``,
``ingestion.py:26-34``). The engine splits the expensive phase — the
SPIMI tokenize pass — into S deterministic segments (doc_id hash
ranges). Each segment writes its term-frequency runs atomically
(parquet dir + manifest entry committed only after the write succeeds)
with lineage metrics:

    segment_id, n_docs, n_tokens, n_postings, content_hash, wall_time_sec

Resume = read the manifest, skip completed segments, build only the
missing ones, then re-run the (cheap, stateless) global merge over all
segment runs. The resulting index is byte-identical to a one-shot build
because segment assignment is a pure hash of doc_id and the merge sorts
before encoding.

``segment_metrics`` exposes the manifest as a DataFrame (SURVEY A7).
"""

from __future__ import annotations

import json
import re
import time
from dataclasses import asdict, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkgrep.operators.index_build import (
    PREFIX_MARKER,
    IndexMeta,
    load_meta,
    merge_and_write,
    normalize_prefix,
    spimi_term_freqs,
    spimi_term_freqs_mc,
)
from sparkgrep.schema import SEGMENT_MANIFEST_SCHEMA
from sparkgrep.sources import fsio


def _manifest_dir(out_dir: str) -> str:
    return f"{out_dir}/manifest"


def _segment_counts(df: DataFrame):
    """Lineage counts over one segment's term-frequency runs.
    n_tokens/n_postings count REAL tokens only: sentinel rows (term='')
    carry tf=0, and prefix-marker rows (term starting '\\x02', present
    when the index has FTS5 ``prefix=`` lengths) are DERIVED entries —
    counting them would inflate the segment's token lineage."""
    real = (F.col("term") != "") & (~F.col("term").startswith(PREFIX_MARKER))
    return df.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        # coalesce: a segment of only zero-token docs (sentinel rows
        # alone) must record 0, not NULL, in the lineage manifest
        F.coalesce(F.sum(F.when(real, F.col("tf"))), F.lit(0)).alias("n_tokens"),
        F.count(F.when(real, 1)).alias("n_postings"),
    ).collect()[0]


def _seg_key(segment_id) -> tuple:
    # ints first (numeric order), then string ids (append batches) by
    # (prefix, numeric suffix) so stream-10 sorts after stream-2
    if isinstance(segment_id, int):
        return (0, "", int(segment_id), "")
    s = str(segment_id)
    prefix, _, suffix = s.rpartition("-")
    if suffix.isdigit():
        return (1, prefix, int(suffix), "")
    return (1, s, -1, s)


def read_manifest(out_dir: str) -> list[dict]:
    """Lineage entries, one JSON file per completed segment under
    ``<out>/manifest/`` (cluster-portable: each commit is an atomic
    tmp+rename through the Hadoop FS API — no driver-local appends, no
    torn manifests). Ordered by segment id, ints before batch strings."""
    mdir = _manifest_dir(out_dir)
    rows = [
        json.loads(fsio.read_text(f"{mdir}/{name}"))
        for name in fsio.list_dir(mdir, suffix=".json")
    ]
    return sorted(rows, key=lambda m: _seg_key(m["segment_id"]))


def completed_segments(out_dir: str) -> set[int]:
    return {m["segment_id"] for m in read_manifest(out_dir)}


def _append_manifest(out_dir: str, entry: dict) -> None:
    fsio.write_text(
        f"{_manifest_dir(out_dir)}/seg-{entry['segment_id']}.json",
        json.dumps(entry),
    )


def segment_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """Lineage manifest as a queryable DataFrame (SURVEY A7)."""
    rows = read_manifest(out_dir)
    return spark.createDataFrame(
        [
            (
                str(m["segment_id"]), m["n_docs"], m["n_tokens"], m["n_postings"],
                m["content_hash"], m["wall_time_sec"],
            )
            for m in rows
        ],
        SEGMENT_MANIFEST_SCHEMA,
    )


def build_index_checkpointed(
    corpus: DataFrame,
    out_dir: str,
    analyzer: str = "simple",
    use_lang: bool = False,
    n_segments: int = 8,
    max_segments_this_run: int | None = None,
    prefix=None,
    **merge_kw,
) -> IndexMeta | None:
    """Resumable build. Returns the IndexMeta, or None if interrupted
    before all segments completed (``max_segments_this_run`` exists to
    simulate a crash in tests; production passes None).

    Segment s holds docs with ``pmod(xxhash64(doc_id), n_segments) == s``
    — pure hash, so resume sees the identical slice regardless of input
    partitioning.
    """
    t0 = time.time()
    prefix_t = normalize_prefix(prefix)
    spark = corpus.sparkSession
    # resume config validation: a resumed call with a different analyzer
    # or prefix= would build segments that disagree on tokenization /
    # marker derivation with the already-completed ones — the merged
    # index would cover only part of the corpus per config. Completed
    # segments record their config; fail fast on a mismatch.
    # n_segments matters as much as tokenization: resuming with a
    # different segment count re-slices the hash space, so already-done
    # segments and new ones overlap — duplicate docs, silently inflated
    # stats. use_lang changes tokenization per row. Old manifests that
    # recorded fewer config keys are compared on the keys they have.
    cfg = {
        "analyzer": analyzer,
        "prefix": list(prefix_t),
        "n_segments": n_segments,
        "use_lang": use_lang,
    }
    manifest_rows = read_manifest(out_dir)
    for m in manifest_rows:
        old = m.get("config")
        if old is not None and {k: cfg[k] for k in old if k in cfg} != old:
            raise ValueError(
                f"resume config mismatch: segment {m['segment_id']} was "
                f"built with {old}, this call passes {cfg} — re-run with "
                "the original config or rebuild from scratch"
            )
    done = {m["segment_id"] for m in manifest_rows}
    built_this_run = 0

    for seg in range(n_segments):
        if seg in done:
            continue
        if max_segments_this_run is not None and built_this_run >= max_segments_this_run:
            return None
        t_seg = time.time()
        sl = corpus.filter(
            F.pmod(F.xxhash64("doc_id"), F.lit(n_segments)) == seg
        )
        tf = spimi_term_freqs(sl, analyzer, use_lang, prefix=prefix_t)
        _commit_segment(
            spark, sl, tf, out_dir, seg, extra={"config": cfg}, t_start=t_seg
        )
        built_this_run += 1

    # global merge over all checkpointed segment runs
    tf_all = spark.read.parquet(f"{out_dir}/segments")
    return merge_and_write(
        tf_all, out_dir, analyzer, t0=t0, prefix=prefix_t, **merge_kw
    )


def append_batch(
    corpus_batch: DataFrame,
    out_dir: str,
    batch_id: str,
    analyzer: str | None = None,
    use_lang: bool = False,
    n_segments: int = 1,
    prefix=None,
    **merge_kw,
) -> IndexMeta:
    """Incremental index maintenance (SURVEY S6): the reference keeps its
    FTS index fresh with per-row SQL triggers (message_manager.py:113-137);
    the engine's analogue is partition-grain append + re-merge.

    A new document batch is SPIMI-processed into its own segment
    namespace (``segments/seg=<batch_id>-<i>``, keyed by the caller's
    batch id so existing segment checkpoints stay valid), its lineage is
    appended to the manifest, and the global merge — the cheap,
    stateless phase — re-runs over ALL segments. Corpus statistics
    (N, avgdl, df) are recomputed exactly, so results after append equal
    a from-scratch build over the union (tested).

    doc_ids across batches must be distinct (ingest-assigned); the merge
    would otherwise double-count.

    Index CONFIG is inherited from the existing root meta (analyzer,
    prefix, bucketing, codec params) exactly like
    :func:`append_batch_delta`: appending without re-passing ``prefix``
    must NOT silently rewrite ``stats.json`` with ``prefix=()`` while
    the old segments' marker rows still merge into the postings. An
    explicitly-passed value that disagrees with the root raises."""
    spark = corpus_batch.sparkSession
    prefix_t = normalize_prefix(prefix)
    if fsio.exists(f"{out_dir}/stats.json"):
        root = _load_meta_healed(out_dir)
        if root.fields or root.has_positions:
            raise ValueError(
                "append_batch (full re-merge) only supports plain "
                "single-field, positionless indexes — use "
                "append_batch_delta, which inherits every layer shape"
            )
        if root.layers or root.tombstones:
            raise ValueError(
                "append_batch re-merges the lineage segments wholesale, "
                "which on a layered/tombstoned index would fold deleted "
                "docs back in and leave delta layers double-counted — "
                "compact_index first, or use append_batch_delta"
            )
        if not fsio.exists(f"{out_dir}/segments"):
            raise ValueError(
                "append_batch re-merges this index's lineage segments, "
                "but it has none (built by plain build_index?) — the "
                "re-merge would silently REPLACE the index with only "
                "this batch; use append_batch_delta"
            )
        if analyzer is None:
            analyzer = root.analyzer
        elif analyzer != root.analyzer:
            raise ValueError(
                f"append analyzer {analyzer!r} != index analyzer "
                f"{root.analyzer!r} (layer consistency)"
            )
        root_prefix = tuple(root.prefix or ())
        if prefix is None:
            prefix_t = root_prefix
        elif prefix_t != root_prefix:
            raise ValueError(
                f"append prefix={prefix_t} != index prefix={root_prefix} "
                "(marker derivation must match every existing segment)"
            )
        merge_kw.setdefault("n_buckets", root.n_buckets)
        merge_kw.setdefault("postings_per_shard", root.postings_per_shard)
        merge_kw.setdefault("block_size", root.block_size)
        merge_kw.setdefault("k1", root.k1)
        merge_kw.setdefault("b", root.b)
        merge_kw.setdefault("idf_variant", root.idf_variant)
    elif analyzer is None:
        analyzer = "simple"
    done = {m["segment_id"] for m in read_manifest(out_dir)}

    for i in range(n_segments):
        seg_id = f"{batch_id}-{i}"
        if seg_id in done:
            continue
        t_seg = time.time()
        sl = (
            corpus_batch
            if n_segments == 1
            else corpus_batch.filter(
                F.pmod(F.xxhash64("doc_id"), F.lit(n_segments)) == i
            )
        )
        tf = spimi_term_freqs(sl, analyzer, use_lang, prefix=prefix_t)
        _commit_segment(spark, sl, tf, out_dir, seg_id, t_start=t_seg)

    # no rank-config preservation needed here: set_rank requires a
    # multi-field index and append_batch raises on those above, so a
    # root this path accepts can never carry rank_weights
    tf_all = spark.read.parquet(f"{out_dir}/segments")
    return merge_and_write(
        tf_all, out_dir, analyzer, prefix=prefix_t, **merge_kw
    )


def _commit_segment(
    spark,
    sl: DataFrame,
    tf: DataFrame,
    out_dir: str,
    seg_id,
    extra: dict | None = None,
    t_start: float | None = None,
) -> str:
    """Write one segment's term-frequency runs + its lineage manifest
    entry (atomic: manifest row only after the parquet write succeeds).
    The ONLY segment-commit implementation — every build/append/delete
    path funnels through it so the crash-ordering-sensitive sequence
    (parquet → counts → content hash → manifest) has one copy. ``extra``
    merges additional manifest fields (e.g. the checkpointed build's
    resume config); ``t_start`` backdates the lineage wall time to
    include the caller's tokenize phase. Returns the segment directory."""
    t_seg = t_start if t_start is not None else time.time()
    seg_dir = f"{out_dir}/segments/seg={seg_id}"
    fsio.write_parquet(tf, seg_dir)
    m = _segment_counts(spark.read.parquet(seg_dir))
    if "content_sha256" in sl.columns:
        h_col = F.sha2(F.col("content_sha256"), 256)
    elif "content" in sl.columns:
        h_col = F.sha2(F.col("content"), 256)
    else:
        # multi-field corpus: hash every non-key column, order-stable
        h_col = F.sha2(
            F.concat_ws(
                "\x1f", *[c for c in sl.columns if c != "doc_id"]
            ),
            256,
        )
    h = sl.select(
        F.sum(
            F.pmod(F.xxhash64(h_col), F.lit(1 << 61)).cast("decimal(38,0)")
        ).alias("h")
    ).collect()[0]["h"]
    entry = {
        "segment_id": seg_id,
        "n_docs": int(m["n_docs"] or 0),
        "n_tokens": int(m["n_tokens"] or 0),
        "n_postings": int(m["n_postings"] or 0),
        "content_hash": format(int(h or 0), "x"),
        "wall_time_sec": round(time.time() - t_seg, 3),
    }
    if extra:
        entry.update(extra)
    _append_manifest(out_dir, entry)
    return seg_dir


def _write_root_meta(out_dir: str, meta: IndexMeta) -> None:
    d = asdict(meta)
    d["layers"] = list(meta.layers or ())
    d["tombstones"] = list(meta.tombstones or ())
    d["tombstone_cuts"] = [int(c) for c in (meta.tombstone_cuts or ())]
    d["tombstone_purged"] = [int(i) for i in (meta.tombstone_purged or ())]
    fsio.write_text(f"{out_dir}/stats.json", json.dumps(d, indent=2))


BATCH_MARKER = "_batch_commit.json"


def finish_pending_batch(index_dir: str) -> bool:
    """Heal a crashed :func:`append_batch_delta` / :func:`delete_batch_delta`.

    Both ops write their replay-idempotency token — the segment manifest
    entry — BEFORE their real commit point (the root ``stats.json``
    write). Without healing, a crash in between makes every replay of
    the batch a silent no-op against a root that never received it: the
    batch is lost forever (and a bootstrap crash wedges the index with a
    manifest entry over a missing ``stats.json``). The marker written
    around that window carries the batch's pre-chosen target so this
    function can put the index back into a replayable state from any
    crash point:

    - target already referenced by the root meta (or, for a bootstrap,
      ``stats.json`` exists): the crash hit AFTER the commit — the batch
      is in; drop the marker.
    - otherwise: the batch never committed — roll BACK by removing its
      manifest entry, staged segment, and orphan target dir, so the
      caller's replay (the streaming source re-delivers uncommitted
      batches) redoes the batch from scratch. Rolling back rather than
      forward keeps the marker config-free; the only cost is
      re-tokenizing one batch.

    Called by every maintenance entry point (via ``_load_meta_healed``)
    and by both delta ops before their replay check, so a compaction
    can never fold an index that silently dropped a half-committed
    batch. Returns True if a pending batch was healed."""
    mpath = f"{index_dir}/{BATCH_MARKER}"
    if not fsio.exists(mpath):
        return False
    plan = json.loads(fsio.read_text(mpath))
    target_rel = plan.get("target_rel")
    committed = False
    if target_rel is None:  # bootstrap: commit point = stats.json itself
        committed = fsio.exists(f"{index_dir}/stats.json")
    elif fsio.exists(f"{index_dir}/stats.json"):
        meta = load_meta(index_dir)
        committed = target_rel in (
            tuple(meta.layers or ()) + tuple(meta.tombstones or ())
        )
    if not committed:
        fsio.delete(f"{index_dir}/segments/seg={plan['seg_id']}")
        fsio.delete(f"{_manifest_dir(index_dir)}/seg-{plan['seg_id']}.json")
        if target_rel:
            fsio.delete(f"{index_dir}/{target_rel}")
    fsio.delete(mpath)
    return True


def _write_batch_marker(
    index_dir: str, kind: str, batch_id: str, seg_id: str, target_rel
) -> None:
    fsio.write_text(
        f"{index_dir}/{BATCH_MARKER}",
        json.dumps({
            "kind": kind,
            "batch_id": batch_id,
            "seg_id": seg_id,
            "target_rel": target_rel,
        }),
    )


SWAP_MARKER = "_swap_commit.json"


def finish_pending_swap(index_dir: str) -> bool:
    """Roll FORWARD a crashed in-place swap (compact_index /
    delete_all). Those two ops replace root subdirs wholesale; committing
    by meta pointer alone cannot make that safe (a crash after swapping
    ``postings`` but before the meta write would leave the OLD meta —
    delta layers still listed — over the NEW folded postings, and a
    re-run would fold the deltas in twice: silent score corruption). So
    they commit via a marker written only AFTER the staging dir is fully
    materialized: the marker carries the swap plan + the final meta, and
    this function executes the plan idempotently from any crash point
    (an already-swapped subdir is skipped, deletes are no-ops, the meta
    write is last, the marker is removed only at the very end). Every
    maintenance entry point calls this first; readers
    (:class:`~sparkgrep.operators.query.InvertedIndex`) REFUSE to open
    while the marker exists, so the swap is an exclusive section rather
    than a window of silently-mixed state. Returns True if a pending
    swap was completed."""
    mpath = f"{index_dir}/{SWAP_MARKER}"
    if not fsio.exists(mpath):
        return False
    plan = json.loads(fsio.read_text(mpath))
    tmp = plan["tmp"]
    for sub in plan["replace"]:
        src = f"{tmp}/{sub}"
        if fsio.exists(src):  # not yet swapped in (rename is the commit)
            fsio.delete(f"{index_dir}/{sub}")
            fsio.rename(src, f"{index_dir}/{sub}")
    for sub in plan["drop"]:
        fsio.delete(f"{index_dir}/{sub}")
    fsio.delete(tmp)
    _write_root_meta(index_dir, IndexMeta(**plan["meta"]))
    fsio.delete(mpath)
    return True


def _commit_swap(
    index_dir: str,
    tmp: str,
    replace_subs: tuple,
    drop_subs: tuple,
    final_meta: IndexMeta,
) -> None:
    """Two-phase commit for an in-place root swap: durably record the
    plan (staging dir is fully materialized by now), then roll forward."""
    d = asdict(final_meta)
    fsio.write_text(
        f"{index_dir}/{SWAP_MARKER}",
        json.dumps({
            "tmp": tmp,
            "replace": list(replace_subs),
            "drop": list(drop_subs),
            "meta": d,
        }),
    )
    finish_pending_swap(index_dir)


def _load_meta_healed(index_dir: str) -> IndexMeta:
    """Maintenance-path loader: completes any crashed compact/delete-all
    swap first (finish_pending_swap), then rolls forward a purge crashed
    in its rename gap (recover_purge_swaps — without this, a compaction
    after such a crash would silently fold an index with an absent
    bucket), then loads the committed meta — every write entry point
    goes through this so a crashed swap heals on the next maintenance
    op of ANY kind."""
    finish_pending_swap(index_dir)
    from sparkgrep.plans.purge import recover_purge_swaps  # cycle-free lazy

    recover_purge_swaps(index_dir)
    # un-stage any half-committed delta/tombstone batch so its manifest
    # entry cannot turn a later replay into a silent no-op (and so
    # compaction never folds a root missing a batch the caller believes
    # retried)
    finish_pending_batch(index_dir)
    return load_meta(index_dir)


def append_batch_delta(
    corpus_batch: DataFrame,
    out_dir: str,
    batch_id: str,
    analyzer: str = "simple",
    use_lang: bool = False,
    store_positions: bool = False,
    fields: tuple | list = (),
    detail: str = "",
    prefix=None,
    **merge_kw,
) -> IndexMeta:
    """O(batch) incremental maintenance: the batch becomes its own
    log-structured DELTA LAYER instead of triggering a full re-merge
    (contrast :func:`append_batch`, whose freshness cost is O(corpus)).

    The batch is SPIMI-processed once; its term-frequency runs land in
    the lineage manifest (same checkpoint/resume story as any segment)
    and are merged into ``delta/<seq>/`` — postings + term_ubs +
    doc_lens for the batch alone. The BASE layer is never read, decoded,
    or rewritten. The root ``stats.json`` is updated incrementally from
    exact integers (N, total_tokens; avgdl = tot/N — the same double
    division a full rebuild computes), and the reader
    (:class:`~sparkgrep.operators.query.InvertedIndex`) serves base +
    deltas with per-term df summed across layers, so query results equal
    a from-scratch build over the union bit-for-bit
    (tests/test_delta_append.py). Periodic :func:`compact_index` folds
    the layers back so MaxScore pruning (whose block metadata is only
    sound on a compacted index) re-engages.

    First call on a fresh ``out_dir`` bootstraps the base layer.
    Idempotent per batch id: replays of a COMMITTED batch are no-ops;
    a batch whose crash window left only the staged segment is unstaged
    by :func:`finish_pending_batch` first, so its replay redoes it.
    doc_ids across batches must be distinct (ingest-assigned)."""
    spark = corpus_batch.sparkSession
    finish_pending_batch(out_dir)
    root_exists = fsio.exists(f"{out_dir}/stats.json")
    prefix_t = normalize_prefix(prefix)
    if root_exists:
        root = _load_meta_healed(out_dir)
        # layer consistency is non-negotiable: analyzer/codec/bucketing
        # come from the index, not the caller
        analyzer = root.analyzer
        store_positions = root.has_positions
        fields = tuple(root.fields or ())  # layer consistency
        detail = root.detail  # 'none' is always stored explicitly
        prefix_t = tuple(root.prefix or ())  # delta layers derive too
        merge_kw.setdefault("n_buckets", root.n_buckets)
        merge_kw.setdefault("postings_per_shard", root.postings_per_shard)
        merge_kw.setdefault("block_size", root.block_size)
        merge_kw.setdefault("k1", root.k1)
        merge_kw.setdefault("b", root.b)
        merge_kw.setdefault("idf_variant", root.idf_variant)

    seg_id = f"{batch_id}-0"
    if seg_id in {m["segment_id"] for m in read_manifest(out_dir)}:
        # replayed micro-batch: no-op. Sound because finish_pending_batch
        # above restored the "manifest entry ⇒ committed" invariant.
        return load_meta(out_dir)

    # choose the target BEFORE anything durable, so the commit marker can
    # bracket the whole window (manifest entry .. root meta write).
    # Next free numeric slot: after merge_delta_layers shrinks the layer
    # list, len(layers) can point at a dir that still exists on disk
    # (orphan from a crashed cleanup) — never reuse a live path.
    delta_rel = None
    if root_exists:
        seq = len(root.layers or ())
        while fsio.exists(f"{out_dir}/delta/{seq:05d}"):
            seq += 1
        delta_rel = f"delta/{seq:05d}"
    _write_batch_marker(out_dir, "append", batch_id, seg_id, delta_rel)

    if fields:
        tf = spimi_term_freqs_mc(
            corpus_batch, list(fields), analyzer, use_lang,
            positions=store_positions, collapse=detail == "none",
            prefix=prefix_t,
        )
    else:
        tf = spimi_term_freqs(
            corpus_batch, analyzer, use_lang, positions=store_positions,
            prefix=prefix_t,
        )
    seg_dir = _commit_segment(spark, corpus_batch, tf, out_dir, seg_id)
    tf_disk = spark.read.parquet(seg_dir)

    if not root_exists:  # bootstrap: the first batch IS the base layer
        bmeta = merge_and_write(
            tf_disk, out_dir, analyzer, fields=tuple(fields), detail=detail,
            prefix=prefix_t, **merge_kw,
        )
        fsio.delete(f"{out_dir}/{BATCH_MARKER}")
        return bmeta

    dmeta = merge_and_write(
        tf_disk, f"{out_dir}/{delta_rel}", analyzer, fields=tuple(fields),
        detail=detail, prefix=prefix_t, **merge_kw,
    )

    n_docs = root.n_docs + dmeta.n_docs
    total = root.total_tokens + dmeta.total_tokens
    new_root = replace(
        root,
        n_docs=n_docs,
        total_tokens=total,
        avgdl=(total / n_docs) if n_docs else 0.0,
        # upper bound on the union vocabulary — only the driver-residency
        # budget decision consumes it
        n_terms=(
            root.n_terms + dmeta.n_terms
            if root.n_terms >= 0 and dmeta.n_terms >= 0
            else -1
        ),
        layers=tuple(root.layers or ()) + (delta_rel,),
        # snapshot build-time stats per layer so the reader can rescale
        # each layer's sidecar ub into a global-sound MaxScore bound
        # (IndexMeta.layer_stats); _base_layer_stats recovers the base's
        # own build stats before any incremental correction touched them
        layer_stats=_base_layer_stats(root) + ((dmeta.n_docs, dmeta.avgdl),),
    )
    _write_root_meta(out_dir, new_root)  # commit point
    fsio.delete(f"{out_dir}/{BATCH_MARKER}")
    return new_root


def _base_layer_stats(root: IndexMeta) -> tuple:
    """Existing per-layer (n_docs, avgdl) snapshots, bootstrapping from a
    still-single-layer root: a root with no layers and no tombstones
    carries exactly its own build-time stats, which are about to be
    incrementally corrected — snapshot them now. A pre-upgrade index
    that is ALREADY layered without snapshots stays unknown (empty):
    the reader then keeps routing pruning to the exact path."""
    existing = tuple(tuple(x) for x in (root.layer_stats or ()))
    if existing:
        return existing
    if not (root.layers or ()) and not (root.tombstones or ()):
        return ((root.n_docs, root.avgdl),)
    return ()


def delete_batch_delta(
    corpus_batch: DataFrame,
    out_dir: str,
    batch_id: str,
    use_lang: bool = False,
) -> IndexMeta:
    """O(batch) deletes: the reference's AFTER DELETE trigger replays the
    row's OLD content into FTS5's 'delete' command
    (``message_manager.py:113-137``) — this is its log-structured
    analogue. ``corpus_batch`` carries the deleted docs' original
    content (exactly what the trigger's ``old.*`` holds; like FTS5's
    delete command, supplying content that differs from what was indexed
    corrupts the statistics). The batch is SPIMI-tokenized ONCE — no
    base layer is read, decoded, or rewritten — into a TOMBSTONE layer
    ``tomb/<seq>/`` holding:

    - ``doc_ids``: the deleted ids (masked at decode time by the reader,
      only in layers older than this tombstone, so a later re-append of
      the same doc_id — an UPDATE — serves the new version), and
    - ``term_ubs``: the batch's per-term dfs NEGATED (the reader's
      cross-layer sidecar summation subtracts them, so global idf stays
      exact; ub=0 never raises a MaxScore bound, and pruning routes to
      the exact path on tombstoned indexes anyway).

    Root stats are corrected from exact integers (N, total_tokens;
    avgdl = tot/N — the same double division a full rebuild computes),
    so every query family is bit-identical to a from-scratch build over
    the surviving corpus (tests/test_delta_delete.py). UPDATE = this +
    :func:`append_batch_delta` of the new content on the same doc_ids.
    :func:`compact_index` folds tombstones away physically. Idempotent
    per batch id."""
    spark = corpus_batch.sparkSession
    if not fsio.exists(f"{out_dir}/stats.json"):
        raise ValueError(f"no index at {out_dir!r} to delete from")
    root = _load_meta_healed(out_dir)  # heals pending batches too

    seg_id = f"{batch_id}-del"
    if seg_id in {m["segment_id"] for m in read_manifest(out_dir)}:
        # sound because _load_meta_healed unstaged any half-committed
        # batch: a surviving manifest entry means the delete committed
        return root

    # pre-choose the tombstone slot so the commit marker brackets the
    # whole (manifest entry .. root meta) window
    seq = len(root.tombstones or ())
    while fsio.exists(f"{out_dir}/tomb/{seq:05d}"):
        seq += 1
    rel = f"tomb/{seq:05d}"
    _write_batch_marker(out_dir, "delete", batch_id, seg_id, rel)

    # O(batch): tokenize only the deleted docs (analyzer pinned by the
    # index; positions never needed — only dfs and lengths). Prefix
    # markers are deliberately NOT derived here: the reader masks
    # deleted doc_ids at decode, which covers marker postings too, and
    # the marker fast path (prefix_terms) never consults sidecar dfs —
    # deriving them would only inflate this batch's token correction.
    coll = not root.per_field
    if root.fields:
        tf = spimi_term_freqs_mc(
            corpus_batch, list(root.fields), root.analyzer, use_lang,
            positions=False, collapse=coll,
        )
    else:
        tf = spimi_term_freqs(
            corpus_batch, root.analyzer, use_lang, positions=False
        )
    seg_dir = _commit_segment(spark, corpus_batch, tf, out_dir, seg_id)
    tf_disk = spark.read.parquet(seg_dir)

    agg = tf_disk.agg(
        F.countDistinct("doc_id").alias("nd"),
        F.sum("tf").alias("ntok"),
    ).collect()[0]
    nd, ntok = int(agg["nd"] or 0), int(agg["ntok"] or 0)

    tomb_dir = f"{out_dir}/{rel}"
    fsio.write_parquet(
        tf_disk.filter(F.col("term") == "").select("doc_id"), f"{tomb_dir}/doc_ids"
    )
    # negated-df sidecar in the standard TERM_UBS layout (term, df, ub,
    # bucket) so every sidecar consumer sums it unchanged
    fsio.write_parquet(
        tf_disk.filter(F.col("term") != "")
        .groupBy("term")
        # multi-field runs have one row per (doc, term, FIELD): df is
        # distinct docs there (mirrors merge_and_write's df); a
        # detail=none index ships collapsed (single-field-shaped) runs
        .agg(
            (
                -(
                    F.countDistinct("doc_id")
                    if root.fields and not coll
                    else F.count("*")
                )
            ).cast("long").alias("df")
        )
        .withColumn("ub", F.lit(0.0))
        .withColumn(
            "bucket",
            F.pmod(F.xxhash64("term"), F.lit(root.n_buckets)).cast("int"),
        )
        .select("term", "df", "ub", "bucket"),
        f"{tomb_dir}/term_ubs",
    )

    n_docs = root.n_docs - nd
    total = root.total_tokens - ntok
    if n_docs < 0 or total < 0:
        raise ValueError(
            f"delete batch removes more docs/tokens than the index holds "
            f"(n_docs {root.n_docs}-{nd}, tokens {root.total_tokens}-{ntok}) "
            "— was the batch already deleted, or its content modified?"
        )
    new_root = replace(
        root,
        n_docs=n_docs,
        total_tokens=total,
        avgdl=(total / n_docs) if n_docs else 0.0,
        tombstones=tuple(root.tombstones or ()) + (rel,),
        # the mask applies to every postings layer existing NOW
        tombstone_cuts=tuple(root.tombstone_cuts or ())
        + (1 + len(root.layers or ()),),
        # deletes don't add a postings layer, but must snapshot the base
        # stats before this correction if no delta has done so yet
        layer_stats=_base_layer_stats(root),
    )
    _write_root_meta(out_dir, new_root)  # commit point
    fsio.delete(f"{out_dir}/{BATCH_MARKER}")
    return new_root


_RANK_RE = re.compile(r"^\s*(\w+)\s*\(([^)]*)\)\s*$")


def set_rank(index_dir: str, rank: str) -> IndexMeta:
    """FTS5's 'rank' configuration option (sqlite.org/fts5.html#the_rank_
    configuration_option — ``INSERT INTO t(t, rank) VALUES('rank',
    'bm25(10.0, 5.0)')``): persist a default rank function for the
    index. Every query that passes no explicit ``weights`` then scores
    with these per-field BM25 weights; per-query weights still override
    (FTS5's ``rank MATCH`` form — probed). Probed argument semantics:
    missing trailing weights default to 1.0, extras beyond the field
    count are ignored. Only ``bm25`` is supported (any other name is
    FTS5's query-time "no such function", raised here eagerly);
    non-numeric arguments are refused (divergence: FTS5 silently
    coerces). Requires a multi-field index with per-field tf streams —
    the same surface explicit weights require."""
    meta = _load_meta_healed(index_dir)
    m = _RANK_RE.match(rank)
    if not m:
        raise ValueError(
            f"malformed rank function {rank!r} (expected 'bm25(w0, w1, ...)')"
        )
    fn, argstr = m.group(1), m.group(2)
    if fn != "bm25":
        raise ValueError(f"no such function: {fn}")
    try:
        args = [
            float(a) for a in (s.strip() for s in argstr.split(",")) if a
        ]
    except ValueError:
        raise ValueError(
            f"non-numeric bm25 weight in {rank!r} (this engine requires "
            "numeric literals; FTS5 silently coerces — documented "
            "divergence)"
        ) from None
    nf = len(meta.fields or ())
    if not meta.per_field:
        raise ValueError(
            "rank configuration needs a multi-field index with per-field "
            "tf streams (build_index(..., fields=[...], detail='full' or "
            "'column')) — the same surface explicit weights require"
        )
    weights = tuple((args + [1.0] * nf)[:nf])  # pad 1.0, ignore extras
    new = replace(meta, rank_weights=weights)
    _write_root_meta(index_dir, new)
    return new


def delete_all(spark: SparkSession, index_dir: str) -> IndexMeta:
    """FTS5's 'delete-all' special command (sqlite.org/fts5.html#the_
    delete_all_command — probed: legal exactly on external-content
    tables, which is this engine's shape; the corpus stays, the index
    empties): atomically replace the index with an EMPTY one carrying
    the same configuration (analyzer, fields, detail, prefix, buckets,
    codec params, rank config). Appends afterwards work normally;
    :func:`rebuild` re-indexes the corpus in place."""
    from sparkgrep.operators.index_build import spimi_schema_for

    meta = _load_meta_healed(index_dir)
    tf_empty = spark.createDataFrame([], spimi_schema_for(meta))
    tmp = f"{index_dir}/_deleteall_tmp"
    fsio.delete(tmp)
    new_meta = merge_and_write(
        tf_empty,
        tmp,
        meta.analyzer,
        n_buckets=meta.n_buckets,
        postings_per_shard=meta.postings_per_shard,
        block_size=meta.block_size,
        k1=meta.k1,
        b=meta.b,
        idf_variant=meta.idf_variant,
        fields=tuple(meta.fields or ()),
        detail=meta.detail,
        prefix=tuple(meta.prefix or ()),
    )
    final = replace(
        new_meta,
        layers=(),
        tombstones=(),
        tombstone_cuts=(),
        rank_weights=tuple(meta.rank_weights or ()),
    )
    _commit_swap(
        index_dir, tmp, ("postings", "doc_lens", "term_ubs"),
        ("delta", "tomb", "segments", "manifest"), final,
    )
    return final


def rebuild(corpus: DataFrame, index_dir: str, use_lang: bool = False) -> IndexMeta:
    """FTS5's 'rebuild' special command: re-index the external content
    under the index's OWN configuration (probed: delete-all + re-insert
    from the content table). A from-scratch :func:`~sparkgrep.operators.
    index_build.build_index` into the same directory with every config
    knob taken from the existing meta; rank config preserved."""
    from sparkgrep.operators.index_build import build_index

    meta = _load_meta_healed(index_dir)
    # Build the new generation into a STAGING dir, then marker-commit
    # the swap (same protocol as compact_index/delete_all): the previous
    # rm-then-build-in-place left a torn index on any mid-rebuild crash
    # (old meta listing deleted layer dirs, or new doc_lens under old
    # postings — silent score skew). Stale LSM layers and lineage belong
    # to the OLD generation (a surviving manifest would make replayed
    # batch ids no-ops against the fresh index), so they ride the same
    # committed plan's drop list.
    tmp = f"{index_dir}/_rebuild_tmp"
    fsio.delete(tmp)
    new_meta = build_index(
        corpus,
        tmp,
        analyzer=meta.analyzer,
        use_lang=use_lang,
        fields=list(meta.fields) or None,
        detail=meta.detail or None,
        prefix=tuple(meta.prefix or ()) or None,
        n_buckets=meta.n_buckets,
        postings_per_shard=meta.postings_per_shard,
        block_size=meta.block_size,
        k1=meta.k1,
        b=meta.b,
        idf_variant=meta.idf_variant,
        store_positions=meta.has_positions,
    )
    final = (
        replace(new_meta, rank_weights=tuple(meta.rank_weights))
        if meta.rank_weights
        else new_meta
    )
    _commit_swap(
        index_dir, tmp, ("postings", "doc_lens", "term_ubs"),
        ("delta", "tomb", "segments", "manifest"), final,
    )
    return final


def _delta_merge_groups(meta: IndexMeta) -> list[list[int]]:
    """Partition the delta-layer seqs (1..L; base is 0) into maximal
    runs not split by a tombstone cut. A tombstone with ``cut = c``
    masks layers ``seq < c``, so two adjacent deltas may merge iff no
    cut falls between them — then every tombstone masks either ALL
    members of a run or none, and the merged layer inherits exactly the
    masking (and negated-df sidecar accounting) of its members."""
    L = len(meta.layers or ())
    cuts = {int(c) for c in (meta.tombstone_cuts or ())}
    groups: list[list[int]] = []
    cur: list[int] = []
    for s in range(1, L + 1):
        if cur and s in cuts:
            groups.append(cur)
            cur = [s]
        else:
            cur.append(s)
    if cur:
        groups.append(cur)
    return groups


def merge_delta_layers(
    spark: SparkSession, out_dir: str, merge_partitions: int | None = None
) -> IndexMeta:
    """FTS5's incremental ``merge``/``automerge`` analogue
    (sqlite.org/fts5.html#the_merge_command; the reference's FTS5 table
    runs the same b-tree segment merges behind 'automerge'): fold runs
    of DELTA layers together WITHOUT touching the base layer, at
    O(sum of merged deltas) cost — contrast :func:`compact_index`,
    which rewrites the whole index. This bounds read amplification
    (layer count, hence per-query scan fan-out and sidecar summation)
    on an append-heavy index while deferring the O(corpus) compaction
    to a much coarser cadence — the write-amplification shape a 100 TB
    deployment needs (an LSM tier merge, not a full rewrite).

    Purely physical: no tombstone mask is applied (runs are chosen so
    every tombstone masks all-or-none of a run — see
    :func:`_delta_merge_groups`), doc_ids stay disjoint across layers,
    global root stats are unchanged, and the reader's summed-sidecar
    dfs are invariant (the merged sidecar's df per term is the sum of
    the members'). Query results are bit-identical before and after
    (tests/test_delta_merge.py). The commit point is the root
    ``stats.json`` write; member dirs are deleted only after it, so a
    crash leaves at worst orphan directories the reader never opens."""
    meta = _load_meta_healed(out_dir)
    groups = _delta_merge_groups(meta)
    if not any(len(g) > 1 for g in groups):
        return meta  # nothing mergeable: no-op

    from sparkgrep.operators.query import _decode_raw_gen, _raw_schema
    from sparkgrep.operators.index_build import postings_schema

    schema = postings_schema(meta)
    old_layers = list(meta.layers or ())
    old_stats = [tuple(x) for x in (meta.layer_stats or ())]
    stats_ok = len(old_stats) == 1 + len(old_layers)

    # next free m-number for merged-layer dirs (orphans from a crashed
    # cleanup advance the counter; they are never reused)
    mseq = 0
    while fsio.exists(f"{out_dir}/delta/m{mseq:05d}"):
        mseq += 1

    new_layers: list[str] = []
    new_stats: list[tuple] = old_stats[:1] if stats_ok else []
    for g in groups:
        if len(g) == 1:
            new_layers.append(old_layers[g[0] - 1])
            if stats_ok:
                new_stats.append(old_stats[g[0]])
            continue
        dirs = [f"{out_dir}/{old_layers[s - 1]}" for s in g]
        posts = None
        dls = None
        for d in dirs:
            p = spark.read.schema(schema).parquet(f"{d}/postings")
            posts = p if posts is None else posts.unionByName(p)
            part = spark.read.schema("doc_id long, dl int").parquet(
                f"{d}/doc_lens"
            )
            dls = part if dls is None else dls.unionByName(part)
        raw = posts.mapInPandas(
            _decode_raw_gen(meta, meta.has_positions),
            _raw_schema(meta.has_positions),
        )
        if not meta.per_field:
            raw = raw.drop("col")  # the single-field SPIMI shape
        sent_cols = [
            F.lit("").alias("term"),
            F.col("doc_id"),
            F.lit(0).cast("int").alias("tf"),
            F.col("dl"),
        ]
        if meta.per_field:
            sent_cols.insert(2, F.lit(0).cast("int").alias("col"))
        if meta.has_positions:
            sent_cols.append(F.array().cast("array<int>").alias("positions"))
        tf_all = raw.unionByName(dls.select(*sent_cols))

        rel = f"delta/m{mseq:05d}"
        mseq += 1
        dmeta = merge_and_write(
            tf_all,
            f"{out_dir}/{rel}",
            meta.analyzer,
            n_buckets=meta.n_buckets,
            postings_per_shard=meta.postings_per_shard,
            block_size=meta.block_size,
            k1=meta.k1,
            b=meta.b,
            idf_variant=meta.idf_variant,
            merge_partitions=merge_partitions,
            fields=tuple(meta.fields or ()),
            detail=meta.detail,
            # markers re-merge as ordinary terms, never re-derived
            prefix=tuple(meta.prefix or ()),
        )
        new_layers.append(rel)
        if stats_ok:
            new_stats.append((dmeta.n_docs, dmeta.avgdl))

    # remap tombstone cuts onto the new layer numbering: old cut c masks
    # old seqs < c; the new cut is 1 (base) + the number of groups lying
    # entirely below c (runs never straddle a cut)
    new_cuts = tuple(
        1 + sum(1 for g in groups if g[-1] < int(c))
        for c in (meta.tombstone_cuts or ())
    )
    new_root = replace(
        meta,
        layers=tuple(new_layers),
        layer_stats=tuple(new_stats),
        tombstone_cuts=new_cuts,
    )
    _write_root_meta(out_dir, new_root)
    for g in groups:  # post-commit cleanup of folded member dirs
        if len(g) > 1:
            for s in g:
                fsio.delete(f"{out_dir}/{old_layers[s - 1]}")
    return new_root


def compact_index(
    spark: SparkSession, out_dir: str, merge_partitions: int | None = None
) -> IndexMeta:
    """Fold base + delta layers back into a single base layer.

    Term-frequency runs are reconstructed by DECODING the existing
    postings (the varint codec is lossless, so the (term, doc_id, tf,
    dl[, positions]) multiset is exactly what was indexed) plus sentinel
    rows from the layered doc_lens, then the standard merge re-runs into
    a staging dir which atomically replaces the base. Query results are
    byte-identical before and after, and the compacted postings equal a
    from-scratch build over the union corpus
    (tests/test_delta_append.py). Tombstones fold away physically here:
    the masked decode drops deleted postings, the per-layer doc_lens
    drop deleted ids, and the rebuilt stats equal a from-scratch build
    over the survivors. Cost is O(total index) — the point of
    the log-structured design is that this price is paid on a cadence,
    not per batch."""
    from sparkgrep.operators.query import InvertedIndex

    meta = _load_meta_healed(out_dir)
    if not meta.layers and not meta.tombstones:
        return meta
    idx = InvertedIndex(spark, out_dir)
    raw = idx.decode_raw(with_positions=meta.has_positions)
    dls = None
    for seq, d in enumerate(idx.layer_dirs):
        part = spark.read.schema("doc_id long, dl int").parquet(f"{d}/doc_lens")
        dead = idx.dead_ids_df(seq)
        if dead is not None:
            part = part.join(F.broadcast(dead), "doc_id", "left_anti")
        dls = part if dls is None else dls.unionByName(part)
    sent_cols = [
        F.lit("").alias("term"),
        F.col("doc_id"),
        F.lit(0).cast("int").alias("tf"),
        F.col("dl"),
    ]
    if meta.per_field:
        # multi-field raw rows carry the field index; sentinels use 0
        # (detail=none decodes — and re-merges — single-field-shaped)
        sent_cols.insert(2, F.lit(0).cast("int").alias("col"))
    if meta.has_positions:
        sent_cols.append(F.array().cast("array<int>").alias("positions"))
    tf_all = raw.unionByName(dls.select(*sent_cols))

    tmp = f"{out_dir}/_compact_tmp"
    fsio.delete(tmp)
    new_meta = merge_and_write(
        tf_all,
        tmp,
        meta.analyzer,
        n_buckets=meta.n_buckets,
        postings_per_shard=meta.postings_per_shard,
        block_size=meta.block_size,
        k1=meta.k1,
        b=meta.b,
        idf_variant=meta.idf_variant,
        merge_partitions=merge_partitions,
        fields=tuple(meta.fields or ()),
        detail=meta.detail,
        # marker rows decode and re-merge as ordinary terms (never
        # re-derived — derivation happens only in the SPIMI kernels);
        # the meta keeps the lengths so the fast path stays on
        prefix=tuple(meta.prefix or ()),
    )
    final = replace(
        new_meta,
        layers=(),
        tombstones=(),
        tombstone_cuts=(),
        # index CONFIG (not build state) survives the physical rewrite
        rank_weights=tuple(meta.rank_weights or ()),
    )
    # the merge fully materialized the staging dir (writes are actions):
    # marker-committed swap-in + drop of the folded delta layers
    # (finish_pending_swap rolls it forward from any crash point)
    _commit_swap(
        out_dir, tmp, ("postings", "doc_lens", "term_ubs"),
        ("delta", "tomb"), final,
    )
    return final
