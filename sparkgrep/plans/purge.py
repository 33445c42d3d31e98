"""Surgical physical deletes — the FTS5 ``secure-delete`` analogue.

Reference analogue: SQLite FTS5's ``secure-delete`` option removes a
deleted row's entries from every affected doclist instead of leaving
them for query-time filtering (sqlite.org/fts5.html — the INSTALLED
3.40 engine refuses the option itself; probed, COVERAGE.md). In this
engine a :func:`~sparkgrep.plans.manifest.delete_batch_delta` tombstone
leaves the deleted postings physically in place, masked at decode time;
the only way to remove the bytes was :func:`compact_index` — a full
O(index) rewrite.

:func:`purge_deleted` bounds that read amplification to O(affected):
it decodes ONLY the (term, shard) rows whose posting lists actually
contain tombstoned doc_ids, rewrites ONLY the parquet files holding
such rows, and leaves every other postings file byte-identical on disk
(hardlinked into the swapped-in directory — same inode; asserted in
tests/test_purge.py). The deleted payload bytes are gone afterwards —
the point of secure-delete — and the reader stops paying the per-decode
mask.

What is rewritten, and what deliberately is NOT:

- affected postings rows are re-encoded WITHOUT the dead doc slots
  using the build's own group encoders, under the LAYER-LOCAL stats
  convention (``IndexMeta.layer_stats`` — the same (n_docs, avgdl) the
  layer's surviving rows were encoded with), with the row's ORIGINAL
  stored df/cf. Stored dfs in old layers are layer-local/stale by
  design; the tombstone's NEGATED-df sidecar stays in place as the
  correction that makes the reader's summed sidecar dfs (and therefore
  global idf, MaxScore bounds and fts5vocab counts) exact — so block
  bounds, sidecar rescales and scoring are bitwise-unchanged.
- rows whose posting lists contain no dead id pass through untouched;
  files containing no affected row are never read for rewrite and stay
  byte-identical (hardlink swap).
- a rewritten file goes through the build's own writers
  (:func:`~sparkgrep.operators.index_build.write_postings`,
  :func:`~sparkgrep.sources.fsio.write_parquet`): zstd pages and, for
  postings, rows in (term, shard) order — the format a fresh build
  writes, even when the file it replaces is an older snappy one (a
  codec is per file, so the two read side by side).
- per-layer ``doc_lens`` files containing dead ids are rewritten the
  same way (a later compaction derives sentinel rows from them — stale
  entries would resurrect deleted docs in the rebuilt stats).
- ``prefix=`` marker entries ('\\x02'+prefix) aggregate matching terms'
  postings and contain the dead ids too; the affected-term set derives
  the markers from the tombstone's sidecar terms so they are scrubbed
  in the same pass.

Crash safety: every directory replacement is staged as a sibling
``.purge_new_*`` dir (hardlinks of untouched files + the rewritten
files) and swapped in with two renames; the root meta — which flips the
tombstone to ``purged`` and thereby turns off the reader's mask — is
written ONLY after every physical rewrite finished. Until that commit
point every CONTENT state is covered by the still-active tombstone
mask: an unswapped dir serves the original postings (masked), a swapped
dir serves the purged postings (masking an already-gone id is a no-op)
— pinned bitwise by tests/test_purge.py's crash-injection test. The one
state the mask cannot cover is the instant BETWEEN a dir's two renames
(no portable filesystem offers an atomic directory exchange): a crash
exactly there leaves that bucket absent — so that window is MARKED. A
``_purge_swap.json`` marker is written at the index root immediately
before a dir's first rename and removed immediately after its second;
while it exists, :class:`~sparkgrep.operators.query.InvertedIndex`
REFUSES to open (a reader would otherwise silently return zero hits
for the absent bucket's terms), and it heals on the next
:func:`purge_deleted` run (idempotent — :func:`_recover_swaps` rolls
the half-swap forward first) or on ANY maintenance op
(:func:`~sparkgrep.plans.manifest._load_meta_healed` calls
:func:`recover_purge_swaps`, so e.g. a ``compact_index`` after a
crashed purge heals the gap instead of folding an index with an absent
bucket). Every other crash point leaves no marker and every live dir
present, and is covered by the mask as above.

Scale shape: discovery is one bucket-pruned + term-pushdown scan of the
affected terms' postings per layer (the tombstone sidecar IS the
affected-term list), the rewrite one job over only the affected files,
and the swap O(files in affected buckets) metadata operations — nothing
touches the unaffected majority of a 10^12-doc index, which is the
whole point versus compaction.
"""

from __future__ import annotations

import json
import uuid
from dataclasses import replace
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from sparkgrep.functions.postings import decode_row, row_ids
from sparkgrep.operators.index_build import (
    PREFIX_MARKER,
    IndexMeta,
    group_encoder,
    load_meta,
    postings_schema,
    write_postings,
)
from sparkgrep.plans.manifest import (
    _load_meta_healed,
    _write_root_meta,
    finish_pending_swap,
)
from sparkgrep.sources import fsio


#: Root-level marker present ONLY while some directory is between its
#: two swap renames (the one crash window the tombstone mask cannot
#: cover). Underscore-prefixed: invisible to Spark partition discovery.
PURGE_MARKER = "_purge_swap.json"


def recover_purge_swaps(index_dir: str) -> bool:
    """Heal a purge crashed between a directory's two renames. Cheap
    when there is nothing to do (one ``exists`` probe); otherwise rolls
    the recorded half-swap forward via :func:`_recover_swaps` and
    removes the marker, restoring the pre-commit contract (every live
    dir present, tombstone mask covering all content states). Called by
    every maintenance entry point through
    :func:`~sparkgrep.plans.manifest._load_meta_healed`. Returns True
    if a crashed swap was healed."""
    if not fsio.exists(f"{index_dir}/{PURGE_MARKER}"):
        return False
    meta = load_meta(index_dir)
    layer_dirs = [index_dir] + [
        f"{index_dir}/{lay}" for lay in (meta.layers or ())
    ]
    _recover_swaps(index_dir, meta, layer_dirs)
    return True


def _file_schema(meta: IndexMeta) -> str:
    """Postings DDL as stored INSIDE a part file: ``bucket`` is a
    partition-directory column, absent from the file bytes."""
    return postings_schema(meta).replace("bucket int, ", "", 1)


def _swap_names(live: str) -> tuple[str, str]:
    parent, _, name = live.rpartition("/")
    # dot-prefixed: invisible to Spark's partition discovery and readers
    return f"{parent}/.purge_new_{name}", f"{parent}/.purge_old_{name}"


def _recover_swaps(root: str, meta: IndexMeta, layer_dirs: list[str]) -> None:
    """Heal any swap a crashed purge left half-done, then clear the
    rename-gap marker. Deterministic name probing (portable across
    Hadoop filesystems, where listing directories vs files differs):
    every swappable dir is either a ``postings/bucket=<b>``
    (b < n_buckets) or a layer's ``doc_lens``."""
    candidates = []
    for ld in layer_dirs:
        candidates.append(f"{ld}/doc_lens")
        candidates.extend(
            f"{ld}/postings/bucket={b}" for b in range(meta.n_buckets)
        )
    for live in candidates:
        new, old = _swap_names(live)
        if not fsio.exists(live):
            if fsio.exists(new):  # crashed between the two renames
                fsio.rename(new, live)
                fsio.delete(old)
            elif fsio.exists(old):  # crashed mid-swap before new went in
                fsio.rename(old, live)
        else:
            fsio.delete(new)
            fsio.delete(old)
    # every live dir is back: the gap the marker flagged is closed
    fsio.delete(f"{root}/{PURGE_MARKER}")


def _swap_dir(
    root: str, live: str, keep_names: list[str], staged: list[str]
) -> None:
    """Atomically-enough replace ``live`` with {hardlinks of the
    untouched ``keep_names``} + {the ``staged`` rewritten files}. The
    only non-atomic window is between the two renames, during which
    ``live`` is absent — it is bracketed by the root ``PURGE_MARKER``
    (written before the first rename, removed after the second) so a
    crash inside it makes readers refuse loudly instead of silently
    serving an absent bucket; _recover_swaps rolls it forward on the
    next purge run or maintenance op (see the module docstring's
    crash-safety contract)."""
    new, old = _swap_names(live)
    fsio.delete(new)
    fsio.delete(old)
    # the replacement dir must exist up front: every original file may be
    # affected (keep_names empty) and a fully-emptied dir must still
    # exist for the reader
    import os

    h = fsio._hadoop(new)
    if h is None:
        os.makedirs(new, exist_ok=True)
    else:
        fs, p, _ = h
        fs.mkdirs(p)
    tag = uuid.uuid4().hex[:8]
    for nm in keep_names:
        fsio.link_or_copy(f"{live}/{nm}", f"{new}/{nm}")
    for i, sf in enumerate(staged):
        fsio.rename(sf, f"{new}/part-purged-{tag}-{i:05d}.parquet")
    fsio.write_text(f"{root}/{PURGE_MARKER}", json.dumps({"live": live}))
    fsio.rename(live, old)
    fsio.rename(new, live)
    fsio.delete(f"{root}/{PURGE_MARKER}")
    fsio.delete(old)


def _load_tomb_terms(
    spark: SparkSession, out_dir: str, meta: IndexMeta, tomb_idxs: list[int]
) -> dict[int, set[str]]:
    """One sidecar collect per tombstone — the deleted docs' SPIMI
    vocabulary under the index's own analyzer/fields, i.e. exactly the
    terms whose posting lists contain that tombstone's dead ids. Loaded
    ONCE before the layer loop: with L layers covered by T tombstones,
    reading inside the loop would rescan the same sidecars up to L
    times each."""
    out: dict[int, set[str]] = {}
    for ti in tomb_idxs:
        rel = (meta.tombstones or ())[ti]
        rows = (
            spark.read.schema("term string")
            .parquet(f"{out_dir}/{rel}/term_ubs")
            .collect()
        )
        out[ti] = {r["term"] for r in rows}
    return out


def _affected_terms(
    meta: IndexMeta, tomb_terms: dict[int, set[str]], tomb_idxs: list[int]
) -> list[str]:
    """Union of the given tombstones' preloaded sidecar terms, plus the
    derived ``prefix=`` marker terms (a marker aggregates every matching
    term's postings, so it holds the dead ids too; build rule:
    len(term) >= n ⇒ marker '\\x02'+term[:n], index_build.py
    _derive_prefix_rows)."""
    terms: set[str] = set()
    for ti in tomb_idxs:
        terms.update(tomb_terms[ti])
    for t in list(terms):
        for n in meta.prefix or ():
            if len(t) >= n:
                terms.add(PREFIX_MARKER + t[:n])
    return sorted(terms)


def _affected_files_gen(meta: IndexMeta, dead_bc):
    """Discovery kernel: decode each candidate row's doc_ids stream only
    and emit its source file when the posting list intersects the dead
    set."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dead = dead_bc.value
            files: set[str] = set()
            for r in pdf.itertuples(index=False):
                if r.src_file in files:
                    continue
                if np.isin(row_ids(r, meta), dead).any():
                    files.add(r.src_file)
            if files:
                yield pd.DataFrame({"src_file": sorted(files)})

    return gen


def _reencode(meta_l: IndexMeta, r, keep: np.ndarray) -> dict:
    """Re-encode one postings row without the dead doc slots: decode it,
    rebuild the layout's SPIMI-shaped frame for the surviving docs — one
    row per (doc, field) with tf > 0, doc-major, a ``col`` column on the
    per-field layout — and run the build's own group encoder (byte
    layout + block grid + bounds convention identical to a build of the
    surviving postings under the layer's stats). Stored df/cf pass
    through unchanged — the tombstone's negated-df sidecar remains the
    global correction."""
    d = decode_row(r, meta_l, fields=True, positions=meta_l.has_positions)
    rows, cols = np.nonzero(d.tf * keep[:, None])
    tfs = d.tf[rows, cols]
    pdf = pd.DataFrame({
        "term": r.term,
        "shard": r.shard,
        "bucket": 0,  # rewritten by the caller (partition column)
        "df": float(r.df),
        "cf": float(r.cf),
        "doc_id": d.ids[rows],
        **({"col": cols} if meta_l.per_field else {}),
        "tf": tfs,
        "dl": d.dls[rows],
    })
    if meta_l.has_positions:
        # decoded instances run (field, row, pos); sorted by (row, field,
        # pos) they line up with the frame's (doc, field) rows
        inst = keep[d.row]
        pos = d.pos[inst]
        order = np.lexsort((pos, d.field[inst], d.row[inst]))
        pdf["positions"] = np.split(pos[order], np.cumsum(tfs)[:-1])
    out = group_encoder(meta_l)(meta_l, pdf, [0], [len(pdf)])
    return out.iloc[0].to_dict()


def _rewrite_gen(meta_l: IndexMeta, dead_bc, n_buckets: int, out_cols: list[str]):
    """Rewrite kernel over the AFFECTED files only: rows whose posting
    list contains no dead id pass through value-identical; rows fully
    dead are dropped; the rest are re-encoded sans the dead slots. The
    output carries the partition ``bucket`` recomputed from the term
    (the same driver/build hash)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from sparkgrep.functions.xxhash import term_bucket

        bcache: dict[str, int] = {}
        for pdf in batches:
            dead = dead_bc.value
            rows_out = []
            for r in pdf.itertuples(index=False):
                hit = np.isin(row_ids(r, meta_l), dead)
                if hit.any():
                    keep = ~hit
                    if not keep.any():
                        continue  # every posting dead: row disappears
                    rd = _reencode(meta_l, r, keep)
                else:
                    rd = r._asdict()
                t = rd["term"]
                b = bcache.get(t)
                if b is None:
                    b = bcache[t] = term_bucket(t, n_buckets)
                rd["bucket"] = b
                rows_out.append(rd)
            if rows_out:
                yield pd.DataFrame(rows_out, columns=out_cols)

    return gen


def _purge_layer_postings(
    spark: SparkSession,
    root: str,
    meta: IndexMeta,
    meta_l: IndexMeta,
    ldir: str,
    aff_terms: list[str],
    dead_bc,
    stats: dict,
) -> None:
    from sparkgrep.functions.xxhash import term_bucket

    buckets = sorted({term_bucket(t, meta.n_buckets) for t in aff_terms})
    tdf = spark.createDataFrame([(t,) for t in aff_terms], "term string")
    cand = (
        spark.read.schema(postings_schema(meta))
        .parquet(f"{ldir}/postings")
        .filter(F.col("bucket").isin(buckets))
        .join(F.broadcast(tdf), "term", "left_semi")
        .withColumn("src_file", F.input_file_name())
        .select("src_file", "n", "doc_ids")
    )
    files = sorted(
        r["src_file"]
        for r in cand.mapInPandas(
            _affected_files_gen(meta, dead_bc), "src_file string"
        )
        .distinct()
        .collect()
    )
    stats["postings_files_rewritten"] += len(files)
    if not files:
        return

    fschema = _file_schema(meta)
    out_cols = ["bucket"] + [c.split(" ")[0] for c in fschema.split(", ")]
    stage = f"{ldir}/.purge_stage_postings"
    fsio.delete(stage)
    # the build's postings writer: each rewritten file keeps the
    # (term, shard) row order of the files it replaces
    write_postings(
        spark.read.schema(fschema)
        .parquet(*files)
        .mapInPandas(
            _rewrite_gen(meta_l, dead_bc, meta.n_buckets, out_cols),
            "bucket int, " + fschema,
        ),
        stage,
    )
    by_bucket: dict[int, list[str]] = {}
    for f in files:
        d, _, base = f.rpartition("/")
        b = int(d.rsplit("bucket=", 1)[1])
        by_bucket.setdefault(b, []).append(base)
    for b, dead_names in by_bucket.items():
        live = f"{ldir}/postings/bucket={b}"
        staged_dir = f"{stage}/bucket={b}"
        staged = [
            f"{staged_dir}/{nm}" for nm in fsio.list_dir(staged_dir, ".parquet")
        ]
        keep = [
            nm
            for nm in fsio.list_dir(live)
            if nm not in dead_names and not nm.startswith((".", "_"))
        ]
        _swap_dir(root, live, keep, staged)
    fsio.delete(stage)


def _purge_layer_doc_lens(
    spark: SparkSession,
    root: str,
    ldir: str,
    dead_ids: np.ndarray,
    stats: dict,
) -> None:
    dl_dir = f"{ldir}/doc_lens"
    ids_df = spark.createDataFrame(
        [(int(x),) for x in dead_ids], "doc_id long"
    )
    files = sorted(
        r["src_file"]
        for r in spark.read.schema("doc_id long, dl int")
        .parquet(dl_dir)
        .withColumn("src_file", F.input_file_name())
        .join(F.broadcast(ids_df), "doc_id", "left_semi")
        .select("src_file")
        .distinct()
        .collect()
    )
    stats["doc_lens_files_rewritten"] += len(files)
    if not files:
        return
    stage = f"{ldir}/.purge_stage_doc_lens"
    fsio.delete(stage)
    fsio.write_parquet(
        spark.read.schema("doc_id long, dl int")
        .parquet(*files)
        .join(F.broadcast(ids_df), "doc_id", "left_anti"),
        stage,
    )
    dead_names = {f.rpartition("/")[2] for f in files}
    staged = [f"{stage}/{nm}" for nm in fsio.list_dir(stage, ".parquet")]
    keep = [
        nm
        for nm in fsio.list_dir(dl_dir)
        if nm not in dead_names and not nm.startswith((".", "_"))
    ]
    _swap_dir(root, dl_dir, keep, staged)
    fsio.delete(stage)


def purge_deleted(spark: SparkSession, out_dir: str) -> dict:
    """Physically remove every un-purged tombstone's doc_ids from the
    layers it masks — O(affected files), base mass untouched (see module
    docstring). Returns a stats dict; idempotent (already-purged
    tombstones are skipped; re-running after a crash completes the
    remainder)."""
    # heals a crashed compact/delete-all swap, a purge rename gap, AND a
    # half-committed delta/tombstone batch (whose sidecar this discovery
    # pass would otherwise read as if committed)
    meta = _load_meta_healed(out_dir)
    purged = {int(i) for i in (meta.tombstone_purged or ())}
    pending = [
        ti for ti in range(len(meta.tombstones or ())) if ti not in purged
    ]
    stats = {
        "tombstones_purged": len(pending),
        "purged_doc_ids": 0,
        "postings_files_rewritten": 0,
        "doc_lens_files_rewritten": 0,
    }
    if not pending:
        return stats

    layer_dirs = [out_dir] + [f"{out_dir}/{lay}" for lay in (meta.layers or ())]
    ls = [tuple(x) for x in (meta.layer_stats or ())]
    if len(ls) != len(layer_dirs):
        raise ValueError(
            "purge_deleted needs per-layer build stats (IndexMeta."
            "layer_stats) to re-encode affected rows under each layer's "
            "own stats convention; this index predates them — run "
            "compact_index instead"
        )
    _recover_swaps(out_dir, meta, layer_dirs)

    cuts = [int(c) for c in (meta.tombstone_cuts or ())]
    tomb_ids: dict[int, np.ndarray] = {}
    for ti in pending:
        rel = meta.tombstones[ti]
        tomb_ids[ti] = np.sort(
            np.array(
                [
                    r["doc_id"]
                    for r in spark.read.schema("doc_id long")
                    .parquet(f"{out_dir}/{rel}/doc_ids")
                    .collect()
                ],
                dtype=np.int64,
            )
        )
    stats["purged_doc_ids"] = int(sum(len(v) for v in tomb_ids.values()))
    tomb_terms = _load_tomb_terms(spark, out_dir, meta, pending)

    for seq, ldir in enumerate(layer_dirs):
        tis = [ti for ti in pending if cuts[ti] > seq]
        if not tis:
            continue
        dead = np.unique(np.concatenate([tomb_ids[ti] for ti in tis]))
        if not dead.size:
            continue
        dead_bc = spark.sparkContext.broadcast(dead)
        meta_l = replace(
            meta, n_docs=int(ls[seq][0]), avgdl=float(ls[seq][1])
        )
        aff_terms = _affected_terms(meta, tomb_terms, tis)
        if aff_terms:
            _purge_layer_postings(
                spark, out_dir, meta, meta_l, ldir, aff_terms, dead_bc, stats
            )
        _purge_layer_doc_lens(spark, out_dir, ldir, dead, stats)

    # COMMIT POINT: only now does the reader's mask turn off for these
    # tombstones — everything before this line is covered by it
    new_meta = replace(
        meta,
        tombstone_purged=tuple(sorted(purged | set(pending))),
    )
    _write_root_meta(out_dir, new_meta)
    return stats
