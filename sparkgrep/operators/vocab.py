"""Vocabulary views over a built index — the engine's equivalent of
SQLite's ``fts5vocab`` virtual tables (public SQLite docs,
https://sqlite.org/fts5.html#the_fts5vocab_virtual_table_module).

The reference stores its corpus in an FTS5 table
(``message_manager.py:101-110``); an fts5vocab table over it exposes
per-term statistics at three granularities. This module reproduces all
three as DataFrames computed FROM THE INDEX (postings decode), not from
the raw corpus — so they double as end-to-end integrity checks of the
posting-list encode/merge/layer/tombstone machinery:

- ``row``:      one row per term: (term, doc, cnt) — documents
                containing the term, total instance count.
- ``col``:      one row per (term, column): (term, col, doc, cnt) —
                per-field document and instance counts (multi-field
                indexes; a single-field index reports its one column).
- ``instance``: one row per token instance: (term, doc_id, col, offset)
                — requires a positional index.

Scale shape: ``row``/``col`` aggregate INSIDE the decode kernel — each
(term, shard) posting row collapses to one partial-count row before the
shuffle, so the exchange carries O(vocabulary × shards) tiny rows, never
the exploded postings. Layered (delta) indexes stay exact because live
doc_ids are disjoint across layers (partial sums add); tombstones are
masked at decode with the same cut-aware rule as query serving.
``instance`` necessarily emits one output row per posting instance — it
IS the full index listing — but still streams Arrow batches and prunes
nothing it does not emit.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkgrep.functions.postings import decode_row
from sparkgrep.operators.query import InvertedIndex

_SINGLE_FIELD_NAME = "content"


def _field_names(index: InvertedIndex) -> list[str]:
    return list(index.meta.fields) if index.meta.fields else [_SINGLE_FIELD_NAME]


def _main_postings(index: InvertedIndex) -> DataFrame:
    """The index's MAIN-term postings: on a ``prefix=`` index the
    table also holds derived marker entries ('\\x02' + prefix), which
    fts5vocab never reports (they are acceleration structures, not
    vocabulary — FTS5 likewise keeps its prefix indexes out of the
    vocab views). The filter is a pushed-down predicate; non-prefix
    indexes keep their plan unchanged."""
    from sparkgrep.operators.index_build import PREFIX_MARKER

    if not (index.meta.prefix or ()):
        return index.postings
    return index.postings.filter(~F.col("term").startswith(PREFIX_MARKER))


def _partials_gen(meta, per_col: bool, tomb):
    """Decode kernel emitting per-(term[, col]) PARTIAL counts: one output
    row per posting row (per field when ``per_col``), never per doc —
    docs with tf > 0 and their tf sum, per column of the decoded tf
    matrix (the total stream is one column)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            terms: list[str] = []
            cols: list[int] = []
            docs: list[int] = []
            cnts: list[int] = []
            for r in pdf.itertuples():
                tf = decode_row(r, meta, fields=per_col, tomb=tomb).tf
                for c, (d, n) in enumerate(zip((tf > 0).sum(axis=0), tf.sum(axis=0))):
                    if d:
                        terms.append(r.term)
                        cols.append(c)
                        docs.append(int(d))
                        cnts.append(int(n))
            if terms:
                out = {"term": terms, "doc": np.asarray(docs, dtype=np.int64),
                       "cnt": np.asarray(cnts, dtype=np.int64)}
                if per_col:
                    out["col_ix"] = np.asarray(cols, dtype=np.int32)
                yield pd.DataFrame(out)

    return gen


def vocab(index: InvertedIndex, level: str = "row") -> DataFrame:
    """fts5vocab-equivalent vocabulary DataFrame at ``level`` in
    {'row', 'col', 'instance'} (FTS5 column names and semantics;
    ``offset`` is the 0-based token position within its column,
    field-relative on multi-field indexes exactly like FTS5)."""
    if level == "row":
        schema = "term string, doc long, cnt long"
        parts = _main_postings(index).mapInPandas(
            _partials_gen(index.meta, per_col=False, tomb=index._tomb_spec),
            schema,
        )
        return parts.groupBy("term").agg(
            F.sum("doc").alias("doc"), F.sum("cnt").alias("cnt")
        )
    if level == "col":
        if index.meta.detail == "none":
            # detail=none stores no per-field streams: FTS5's col view
            # degrades to ONE row per term with col=NULL (probed on a
            # real detail=none table). doc is the term's total doc
            # count; cnt is the stored total instance count (a superset
            # of FTS5, which stores no tf at all and reports NULL).
            return vocab(index, "row").select(
                "term", F.lit(None).cast("string").alias("col"), "doc", "cnt"
            )
        fields = _field_names(index)
        schema = "term string, col_ix int, doc long, cnt long"
        parts = _main_postings(index).mapInPandas(
            _partials_gen(index.meta, per_col=True, tomb=index._tomb_spec),
            schema,
        )
        name_map = F.array(*[F.lit(f) for f in fields])
        return (
            parts.groupBy("term", "col_ix")
            .agg(F.sum("doc").alias("doc"), F.sum("cnt").alias("cnt"))
            .select(
                "term",
                F.element_at(name_map, F.col("col_ix") + 1).alias("col"),
                "doc",
                "cnt",
            )
        )
    if level == "instance":
        if not index.meta.has_positions:
            raise ValueError(
                "instance-level vocab needs a positional index "
                "(build_index(store_positions=True))"
            )
        fields = _field_names(index)
        # marker filter BEFORE the decode kernel (pushed into the scan):
        # filtering after mapInPandas paid full varint/position decode
        # for the whole derived prefix sub-index just to discard it
        raw = index.decode_raw(with_positions=True, postings=_main_postings(index))
        if index.meta.fields:
            name_map = F.array(*[F.lit(f) for f in fields])
            col_expr = F.element_at(name_map, F.col("col") + 1)
        else:
            col_expr = F.lit(fields[0])
        return raw.select(
            "term",
            "doc_id",
            col_expr.alias("col"),
            F.explode("positions").alias("offset"),
        )
    raise ValueError(f"unknown vocab level {level!r} (row | col | instance)")
